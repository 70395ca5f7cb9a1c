"""CDC / watermark tests (reference scenario: FIXTURES.md §4,
test/test_extract.py:404-518 — after a first extraction, row 7 qualifies by
created_at, row 8 by last_updated, row 9 ties the watermark and is dropped
by the strict-> predicate)."""

import functools
import os
import time
import uuid
from datetime import datetime
from decimal import Decimal

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pw_etl_scrumptious_squad_spark.operators.cdc import (
    extract_delta,
    incremental_extract,
)
from pw_etl_scrumptious_squad_spark.schemas import OLTP_SCHEMAS
from pw_etl_scrumptious_squad_spark.sources.state import (
    EPOCH,
    Watermark,
    WatermarkStore,
    delta_watermark,
)
from tests.conftest import LATER_CREATED, LATER_UPDATED, SEED_TS


def _sales_with_late_rows(spark, totesys):
    late = [
        (7, 1, 1, 1, 5, Decimal("9.99"), 1, "2023-03-01", "2023-03-05", 1,
         LATER_CREATED, SEED_TS),      # qualifies by created_at
        (8, 1, 1, 1, 5, Decimal("9.99"), 1, "2023-03-01", "2023-03-05", 1,
         SEED_TS, LATER_UPDATED),      # qualifies by last_updated
        (9, 1, 1, 1, 5, Decimal("9.99"), 1, "2023-03-01", "2023-03-05", 1,
         SEED_TS, SEED_TS),            # ties the watermark — strict > drops it
    ]
    return totesys["sales_order"].unionByName(
        spark.createDataFrame(late, OLTP_SCHEMAS["sales_order"])
    )


def test_strict_delta_matches_reference(spark, totesys):
    snapshot = _sales_with_late_rows(spark, totesys)
    wm = Watermark(created_at=SEED_TS, last_updated=SEED_TS)
    delta = extract_delta(snapshot, wm, inclusive=False)
    assert sorted(r["sales_order_id"] for r in delta.collect()) == [7, 8]


def test_inclusive_delta_recovers_tied_rows(spark, totesys):
    snapshot = _sales_with_late_rows(spark, totesys)
    wm = Watermark(created_at=SEED_TS, last_updated=SEED_TS)
    delta = extract_delta(
        snapshot, wm, inclusive=True, dedup_key="sales_order_id"
    )
    ids = sorted(r["sales_order_id"] for r in delta.collect())
    assert 9 in ids  # the row the reference silently loses
    assert len(ids) == len(set(ids))  # dedup keeps one version per key


def test_delta_watermark_max_agg(totesys):
    wm = delta_watermark(totesys["sales_order"])
    assert wm.created_at == SEED_TS
    assert wm.last_updated == SEED_TS


def test_watermark_store_roundtrip(spark, totesys, tmp_path):
    store = WatermarkStore(spark, str(tmp_path / "state.parquet"))
    assert store.load() == {}
    store.save({"sales_order": Watermark(LATER_CREATED, SEED_TS)})
    state = store.load()
    assert state == {"sales_order": Watermark(LATER_CREATED, SEED_TS)}
    # the watermark advance is a monotone max: a source whose maxima sit
    # below the stored watermark stages nothing and never regresses state
    deltas, advanced = incremental_extract(
        {"sales_order": totesys["sales_order"]}, state
    )
    assert deltas == {}
    assert advanced == state
    assert state["sales_order"].merge(EPOCH, None) == state["sales_order"]
    assert state["sales_order"].merge(None, LATER_UPDATED) == Watermark(
        LATER_CREATED, LATER_UPDATED
    )


def test_watermark_store_roundtrips_microseconds(spark, tmp_path):
    """save/load keeps every table, microsecond-exact TIMESTAMP_NTZ
    values, and names that need quoting in SQL."""
    store = WatermarkStore(spark, str(tmp_path / "state.parquet"))
    state = {
        f"t{i}": Watermark(
            datetime(2023, 1, 1, 10, 0, 0, 1 + i),
            datetime(1999, 12, 31, 23, 59, 59, 999999 - i),
        )
        for i in range(11)
    }
    state["o'brien\\x"] = Watermark(EPOCH, datetime(2024, 2, 29, 0, 0, 0, 500))
    store.save(state)
    assert store.load() == state
    store.save({})
    assert store.load() == {}


def test_incremental_extract_cycles(spark, totesys, tmp_path):
    """First cycle: full extraction (EPOCH watermark). Second: empty deltas.
    Third (after late rows appear): only the qualifying rows."""
    tables = {"sales_order": totesys["sales_order"]}

    first, state = incremental_extract(tables, {})
    assert sorted(r["sales_order_id"] for r in first["sales_order"].collect()) == [
        1, 2, 3, 4, 5, 6,
    ]
    assert state == {"sales_order": Watermark(SEED_TS, SEED_TS)}

    second, same = incremental_extract(tables, state)
    assert second == {}  # nothing new — non-empty-only contract
    assert same == state

    with_late = {"sales_order": _sales_with_late_rows(spark, totesys)}
    third, advanced = incremental_extract(with_late, state)
    assert sorted(r["sales_order_id"] for r in third["sales_order"].collect()) == [7, 8]
    # watermark advanced to the late rows' timestamps
    assert advanced["sales_order"] == Watermark(LATER_CREATED, LATER_UPDATED)
    assert state == {"sales_order": Watermark(SEED_TS, SEED_TS)}  # input untouched


def _reference_extract(tables, state, inclusive):
    """The per-delta rule the one-job decision replaced: one delta and
    one max-agg job per table, watermark = max(prev, delta maxima)."""
    out, new_state = {}, dict(state)
    for name, df in tables.items():
        wm = state.get(name)
        delta = extract_delta(df, wm, inclusive) if wm is not None else df
        seen = delta_watermark(delta)
        if seen is None:
            continue
        out[name] = delta
        prev = state.get(name, Watermark(EPOCH, EPOCH))
        new_state[name] = Watermark(
            max(prev.created_at, seen.created_at),
            max(prev.last_updated, seen.last_updated),
        )
    return out, new_state


W0 = datetime(2023, 5, 1, 12, 0, 0, 250)
BEFORE = datetime(2023, 4, 1, 9, 0, 0)
AFTER = datetime(2023, 6, 1, 9, 0, 0, 1)


def _hostile_inputs(spark):
    schema = "id INT, created_at TIMESTAMP_NTZ, last_updated TIMESTAMP_NTZ"
    rows = {
        # NULL audit columns, alone and together, beside one real change
        "nulls": [
            (1, None, AFTER), (2, AFTER, None), (3, None, None), (4, BEFORE, BEFORE)
        ],
        # only last_updated moved past the watermark
        "bump": [(1, BEFORE, AFTER), (2, BEFORE, BEFORE)],
        "empty": [],
        # rows tying the watermark: dropped when strict, kept when inclusive
        "ties": [(1, W0, W0), (2, BEFORE, W0), (3, W0, BEFORE)],
        # source maxima below the stored watermark
        "stale": [(1, BEFORE, BEFORE)],
        # first sight: full scan, or no delta when every audit value is NULL
        "fresh": [(1, BEFORE, None), (2, None, AFTER)],
        "fresh_nulls": [(1, None, None)],
        "fresh_empty": [],
    }
    tables = {name: spark.createDataFrame(r, schema) for name, r in rows.items()}
    state = {
        name: Watermark(W0, W0)
        for name in ("nulls", "bump", "empty", "ties", "stale")
    }
    # in the state but absent from the snapshots: keeps its watermark
    state["gone"] = Watermark(BEFORE, AFTER)
    return tables, state


def _tagged_rows(deltas):
    """Every delta's rows tagged with its table, in one job."""
    tagged = [df.withColumn("table", F.lit(name)) for name, df in deltas.items()]
    return sorted(functools.reduce(DataFrame.unionAll, tagged).collect(), key=repr)


_REFERENCE: dict = {}


def _reference_answer(spark, inclusive):
    """:func:`_reference_extract` over the hostile inputs, computed once
    per session and ``inclusive`` setting: the inputs are literals, so
    the plain and the memoized decision are checked against one answer."""
    key = (spark.sparkContext.applicationId, inclusive)
    if key not in _REFERENCE:
        _REFERENCE[key] = _reference_extract(*_hostile_inputs(spark), inclusive)
    return _REFERENCE[key]


# tables whose maxima the memoized case hands the decision precomputed,
# one of each kind: changed, empty, tied, first sight, all-NULL first sight
MEMOIZED = ("nulls", "empty", "ties", "fresh", "fresh_nulls")


def _driver_maxima(df):
    """``(max created_at, max last_updated)`` of a local literal frame,
    computed on the driver — the memo an earlier cycle would hold."""
    rows = df.collect()
    return tuple(
        max((r[c] for r in rows if r[c] is not None), default=None)
        for c in ("created_at", "last_updated")
    )


@pytest.mark.parametrize(
    "inclusive,memoized",
    [(False, False), (True, False), (False, True), (True, True)],
    ids=["False", "True", "False-memoized", "True-memoized"],
)
def test_one_job_decision_matches_per_delta_rule(spark, inclusive, memoized):
    tables, state = _hostile_inputs(spark)
    maxima = (
        {name: _driver_maxima(tables[name]) for name in MEMOIZED} if memoized else None
    )
    deltas, new_state = incremental_extract(
        tables, state, inclusive=inclusive, maxima=maxima
    )
    want_deltas, want_state = _reference_answer(spark, inclusive)
    assert new_state == want_state
    assert sorted(deltas) == sorted(want_deltas)
    assert _tagged_rows(deltas) == _tagged_rows(want_deltas)
    assert new_state["gone"] == state["gone"]
    assert "stale" not in deltas and "empty" not in deltas
    assert "fresh_nulls" not in deltas and "fresh_nulls" not in new_state
    assert ("ties" in deltas) == inclusive


def _jobs_started(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"cdc-job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "incremental_extract job budget")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    deadline = time.monotonic() + 10
    seen = -1
    while time.monotonic() < deadline:
        now = len(sc.statusTracker().getJobIdsForGroup(group))
        if now == seen and now > 0:
            return now
        seen = now
        time.sleep(0.2)
    return seen


def test_incremental_extract_job_budget_is_flat_in_table_count(spark, totesys):
    """The CDC decision is one union-then-group job whatever the number of
    tables: 2 tables and all 11 start the same number of Spark jobs."""
    two = {name: totesys[name] for name in ("sales_order", "payment")}
    small = _jobs_started(spark, lambda: incremental_extract(two, {}))
    full = _jobs_started(spark, lambda: incremental_extract(dict(totesys), {}))
    assert len(totesys) == 11
    assert small == full
    assert 1 <= full <= 2, full


def test_extract_rescans_a_hard_delete_without_regressing(
    spark, totesys, tmp_path, monkeypatch
):
    """A source rewritten with its newest rows hard-deleted has lower
    maxima than the memo holds: its signature changed, so extract scans
    it again (and only it), the memo takes the lowered maxima, and the
    monotone merge keeps the stored watermark."""
    from pw_etl_scrumptious_squad_spark.plans import etl
    from pw_etl_scrumptious_squad_spark.sources import parquet as lake

    source = str(tmp_path / "oltp")
    staging = str(tmp_path / "staging")
    state = str(tmp_path / "state.parquet")
    sales = _sales_with_late_rows(spark, totesys)
    lake.write_table(sales, source, "sales_order")
    lake.write_table(totesys["design"], source, "design")
    etl.extract(spark, source, staging, state)
    before = WatermarkStore(spark, state).load()
    assert before["sales_order"] == Watermark(LATER_CREATED, LATER_UPDATED)

    lake.write_table(sales.filter("sales_order_id NOT IN (7, 8)"), source, "sales_order")
    scanned = []
    real = etl.table_maxima

    def spy(tables):
        scanned.append(sorted(tables))
        return real(tables)

    monkeypatch.setattr(etl, "table_maxima", spy)
    assert etl.extract(spark, source, staging, state) == {}
    assert scanned == [["sales_order"]]
    key = os.path.abspath(lake.table_path(source, "sales_order"))
    assert etl._MAXIMA[key][1] == (SEED_TS, SEED_TS)
    assert WatermarkStore(spark, state).load() == before


# ---------------------------------------------------------------------------
# snapshot_diff
# ---------------------------------------------------------------------------


def test_snapshot_diff_classifies_i_u_d(spark):
    from pw_etl_scrumptious_squad_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k int, name string, amt double",
    )
    new = spark.createDataFrame(
        [
            (1, "a", 10.0),       # unchanged -> no row
            (2, "b", 25.0),       # value update
            (3, "c", 30.0),       # NULL -> value is an update (null-safe)
            (5, "e", 50.0),       # insert
        ],
        "k int, name string, amt double",
    )
    rows = {
        r["k"]: (r["op"], r["name"], r["amt"])
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert rows == {
        2: ("U", "b", 25.0),
        3: ("U", "c", 30.0),
        4: ("D", "d", 40.0),   # delete carries the OLD values
        5: ("I", "e", 50.0),
    }


def test_snapshot_diff_compare_cols_subset_and_multi_key(spark):
    from pw_etl_scrumptious_squad_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, 1, "x", 9.0), (1, 2, "y", 8.0)],
        "k1 int, k2 int, name string, amt double",
    )
    new = spark.createDataFrame(
        [(1, 1, "x", 99.0), (1, 2, "CHANGED", 8.0)],
        "k1 int, k2 int, name string, amt double",
    )
    # comparing only `name`: the amt-only change must NOT surface
    rows = snapshot_diff(old, new, ["k1", "k2"], compare_cols=["name"]).collect()
    assert [(r["k1"], r["k2"], r["op"], r["name"]) for r in rows] == [
        (1, 2, "U", "CHANGED")
    ]
