"""Cross-table warehouse snapshots (sources/warehouse.py): one atomic
version over many tables — a reader joining dim⋈fact must never see the
new dim against the old fact, a crashed half-written cycle must publish
nothing, and old snapshots stay readable (time travel) until vacuumed."""

import pytest

from pw_etl_scrumptious_squad_spark.sources import warehouse as wh
from pw_etl_scrumptious_squad_spark.sources.parquet import (
    ConcurrentWriteError,
    upsert_table,
    vacuum_table,
)


def _df(spark, rows, schema="k INT, v STRING"):
    return spark.createDataFrame(rows, schema)


@pytest.fixture()
def base(tmp_path):
    return str(tmp_path / "warehouse")


def _seed(spark, base):
    upsert_table(spark, _df(spark, [(1, "dim-a")]), base, "dim", ["k"])
    upsert_table(spark, _df(spark, [(1, "fact-a")]), base, "fact", ["k"])
    return wh.commit_warehouse_snapshot(base, ["dim", "fact"])


def test_reader_never_sees_a_mixed_cycle(spark, base):
    snap1 = _seed(spark, base)
    assert snap1 == 1
    # next ETL cycle: dim landed, fact has NOT — no warehouse commit yet
    upsert_table(spark, _df(spark, [(1, "dim-b")]), base, "dim", ["k"])
    # a warehouse reader still sees the OLD dim with the OLD fact
    assert wh.read_warehouse_snapshot(spark, base, "dim").first()["v"] == "dim-a"
    assert wh.read_warehouse_snapshot(spark, base, "fact").first()["v"] == "fact-a"
    # cycle completes and commits: the new pair becomes visible TOGETHER
    upsert_table(spark, _df(spark, [(1, "fact-b")]), base, "fact", ["k"])
    snap2 = wh.commit_warehouse_snapshot(base, ["dim", "fact"])
    assert snap2 == 2
    assert wh.read_warehouse_snapshot(spark, base, "dim").first()["v"] == "dim-b"
    assert wh.read_warehouse_snapshot(spark, base, "fact").first()["v"] == "fact-b"


def test_time_travel_pins_the_whole_set(spark, base):
    _seed(spark, base)
    upsert_table(spark, _df(spark, [(1, "dim-b")]), base, "dim", ["k"])
    upsert_table(spark, _df(spark, [(1, "fact-b")]), base, "fact", ["k"])
    wh.commit_warehouse_snapshot(base, ["dim", "fact"])
    # snapshot 1 still reads the original pair after snapshot 2 exists
    assert (
        wh.read_warehouse_snapshot(spark, base, "dim", snapshot=1).first()["v"]
        == "dim-a"
    )
    assert (
        wh.read_warehouse_snapshot(spark, base, "fact", snapshot=1).first()["v"]
        == "fact-a"
    )
    assert wh.warehouse_snapshot_tables(base, 1) == {"dim": 1, "fact": 1}
    assert wh.warehouse_snapshot_tables(base, 2) == {"dim": 2, "fact": 2}


def test_commit_retries_past_a_concurrent_committer(spark, base):
    _seed(spark, base)
    # simulate a concurrent cycle that steals the next slot: claim v2
    # directly, then our commit with retries must land on v3
    from pw_etl_scrumptious_squad_spark.sources.parquet import _claim_version

    _claim_version(base, "__warehouse__", 1, data_rel='{"dim": 1, "fact": 1}')
    snap = wh.commit_warehouse_snapshot(base, ["dim", "fact"])
    assert snap == 3
    # and with every retry slot stolen the loss is loud: pin the
    # committer's version read to a stale value so each claim collides
    _claim_version(base, "__warehouse__", 3, data_rel='{"dim": 1, "fact": 1}')
    import pw_etl_scrumptious_squad_spark.sources.warehouse as whmod

    real_wv = whmod.warehouse_version
    try:
        whmod.warehouse_version = lambda b, s=None: 3  # always stale
        with pytest.raises(ConcurrentWriteError):
            wh.commit_warehouse_snapshot(base, ["dim", "fact"], retries=2)
    finally:
        whmod.warehouse_version = real_wv


def test_uncommitted_table_is_rejected(spark, base):
    upsert_table(spark, _df(spark, [(1, "dim-a")]), base, "dim", ["k"])
    with pytest.raises(ValueError, match="never committed"):
        wh.commit_warehouse_snapshot(base, ["dim", "ghost"])


def test_table_outside_snapshot_raises_keyerror(spark, base):
    _seed(spark, base)
    upsert_table(spark, _df(spark, [(1, "x")]), base, "newtab", ["k"])
    with pytest.raises(KeyError):
        wh.read_warehouse_snapshot(spark, base, "newtab")


def test_vacuum_respects_warehouse_pins_until_retired(spark, base):
    """Round-9 (verdict item 4): vacuum_table must refuse to reclaim any
    table version a committed warehouse marker pins — a keep_last that
    would have broken cross-table time travel now preserves it, and the
    explicit retirement step (vacuum_warehouse) is what unpins."""
    _seed(spark, base)
    for tag in ("b", "c", "d"):
        upsert_table(spark, _df(spark, [(1, f"dim-{tag}")]), base, "dim", ["k"])
        upsert_table(spark, _df(spark, [(1, f"fact-{tag}")]), base, "fact", ["k"])
        wh.commit_warehouse_snapshot(base, ["dim", "fact"])
    # naive keep_last=2 would reclaim dim/fact v1-v2 — but warehouse
    # snapshots 1 and 2 pin them, so NOTHING is deleted and every
    # snapshot still time-travels correctly
    assert vacuum_table(base, "dim", keep_last=2) == []
    assert vacuum_table(base, "fact", keep_last=2) == []
    assert (
        wh.read_warehouse_snapshot(spark, base, "dim", snapshot=1).first()["v"]
        == "dim-a"
    )
    assert (
        wh.read_warehouse_snapshot(spark, base, "fact", snapshot=1).first()["v"]
        == "fact-a"
    )
    # retire warehouse snapshots 1-2 (the unpin), then vacuum reclaims
    assert wh.vacuum_warehouse(base, keep_last=2) == ["v1", "v2"]
    assert len(vacuum_table(base, "dim", keep_last=2)) == 2
    assert len(vacuum_table(base, "fact", keep_last=2)) == 2
    # retired snapshots are gone loudly; retained ones fully readable
    with pytest.raises(FileNotFoundError):
        wh.warehouse_snapshot_tables(base, 1)
    assert (
        wh.read_warehouse_snapshot(spark, base, "dim", snapshot=4).first()["v"]
        == "dim-d"
    )
    assert (
        wh.read_warehouse_snapshot(spark, base, "dim", snapshot=3).first()["v"]
        == "dim-c"
    )


def test_pinned_local_resolution_makes_no_py4j_calls(spark, base, monkeypatch):
    """Resolving a pinned snapshot on a plain path reads its markers
    through os even when a session is passed: zero Py4J round trips."""
    import threading

    from py4j.java_gateway import GatewayClient

    from pw_etl_scrumptious_squad_spark.sources.parquet import _resolve_snapshot

    _seed(spark, base)
    main = threading.get_ident()
    calls = []
    original = GatewayClient.send_command

    def counting(client, command, *args, **kwargs):
        # memory (GC detach) commands are not round trips the code makes
        if threading.get_ident() == main and not command.startswith("m"):
            calls.append(command)
        return original(client, command, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    pinned = wh.warehouse_snapshot_tables(base, None, spark)
    version, data_path = _resolve_snapshot(base, "dim", pinned["dim"], spark)
    monkeypatch.undo()
    assert len(calls) == 0
    assert version == 1 and data_path.endswith(".data")
