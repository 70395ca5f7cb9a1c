"""Degenerate-events adversarial oracle battery — the time-series twin of
the text/embeddings batteries.

Window functions, sessionization, and per-group stats live on ordering
seams the happy-path corpus never stresses: exact timestamp TIES within
a user, duplicate rows, single-event users, constant values (stddev 0),
zero/negative values, whole-second timestamps (formatting edge), events
straddling hour boundaries exactly, and malformed/empty JSON props.
Every catalog entry whose oracle reads ONLY the events table runs over
this corpus with check.py hash parity."""

from __future__ import annotations

import datetime as dt
import os
import re

import duckdb
import pytest

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ts(minutes=0, seconds=0, micros=0):
    return T0 + dt.timedelta(minutes=minutes, seconds=seconds, microseconds=micros)

DEGENERATE_EVENTS = [
    # (event_id, ts, user_id, event_type, value, props)
    (0, _ts(0), 1, "view", 10.0, '{"k": 1}'),
    (1, _ts(0), 1, "view", 10.0, '{"k": 1}'),        # exact duplicate row (diff id)
    (2, _ts(0), 1, "click", 20.0, '{"k": 2}'),       # same-ts same-user tie
    (3, _ts(59, 59, 999999), 1, "view", 0.0, "{}"),  # hour-boundary edge, empty json
    (4, _ts(60), 1, "purchase", -5.5, '{"k": -3}'),  # exactly on the hour, negative
    (5, _ts(0), 2, "view", 7.25, '{"k": 0}'),        # single... (more below)
    (6, _ts(45), 2, "view", 7.25, '{"k": 0}'),       # 45-min gap -> new session @30m
    (7, _ts(1), 3, "signup", 100.0, "not json"),     # malformed props
    (8, _ts(2), 3, "signup", 100.0, None),           # NULL props
    (9, _ts(3), 4, "error", 3.0, '{"k": 87}'),       # lone event, lone user
    (10, _ts(4), 5, "view", 42.0, '{"k": 5}'),       # constant-value group
    (11, _ts(5), 5, "click", 42.0, '{"k": 5}'),
    (12, _ts(6), 5, "view", 42.0, '{"k": 5}'),
    (13, _ts(0, 0, 1), 1, "view", 1e-9, '{"k": 9}'),  # tiny value, micro tie-break
    (14, _ts(120), 6, "view", 1000000.5, '{"k": 10}'),
    (15, _ts(121), 6, "purchase", 0.0, '{"k": 11}'),  # zero value
]

SF_SRC = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def degenerate_sf(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("degenerate_ev_sf")
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in DEGENERATE_EVENTS], pa.int64()),
            "ts": pa.array(
                [r[1] for r in DEGENERATE_EVENTS], pa.timestamp("us")
            ),
            "user_id": pa.array([r[2] for r in DEGENERATE_EVENTS], pa.int64()),
            "event_type": pa.array(
                [r[3] for r in DEGENERATE_EVENTS], pa.string()
            ),
            "value": pa.array([r[4] for r in DEGENERATE_EVENTS], pa.float64()),
            "props": pa.array([r[5] for r in DEGENERATE_EVENTS], pa.string()),
        }
    )
    pq.write_table(t, str(d / "events.parquet"))
    for name in TABLES:
        if name != "events":
            os.symlink(f"{SF_SRC}/{name}.parquet", d / f"{name}.parquet")
    return str(d)


def _events_only_entries():
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql(SF_SRC)
    others = [t for t in TABLES if t != "events"]
    names = []
    for name, sql in sorted(oracles.items()):
        low = sql.lower()
        if not re.search(r"\bevents\b", low):
            continue
        if any(re.search(rf"\b{t}\b", low) for t in others):
            continue
        names.append(name)
    return names


def test_events_only_battery_is_broad():
    names = _events_only_entries()
    assert len(names) >= 8, names
    assert {"q09_events_hourly", "q10_sessionize", "q18_lead_lag"} <= set(
        names
    )


@pytest.mark.parametrize("name", _events_only_entries())
def test_degenerate_events_oracle_parity(spark, degenerate_sf, name):
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
