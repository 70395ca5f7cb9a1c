"""Cross-table warehouse snapshots: one atomic version over many tables.

The per-table versioned snapshots (sources/parquet.py, round 8) make
each table individually consistent — but a star warehouse is written as
MANY tables per ETL cycle (the reference loads 11 independently,
src/load.py:97-110), and a reader joining dim⋈fact mid-cycle can see
the new dim against the old fact: per-table isolation, cross-table
torn read. This layer closes that with the same publish-then-claim
discipline one level up:

1. the ETL cycle writes/upserts each table through the versioned path
   (every table gets its own immutable data dir + CAS marker, as
   before);
2. ONLY after every table write landed, the cycle claims one
   WAREHOUSE version marker whose content is the JSON map
   ``{table: table_version}`` — the marker's existence implies a
   complete, mutually consistent set;
3. readers resolve the warehouse marker first and then snapshot_read
   every table at its pinned version. A crash between table writes
   publishes nothing (the previous warehouse snapshot still pins the
   old versions of every table); a concurrent cycle flips readers
   from one complete set to the next, never through a mixed state.

This is the Iceberg/Delta "single table = single commit log" idea
generalized the cheap way: table snapshots stay the unit of storage,
the warehouse marker is one more CAS'd file. Retention: a warehouse
snapshot is readable only while :func:`~pw_etl_scrumptious_squad_spark.
sources.parquet.vacuum_table`'s keep-window retains every pinned
table version — coordinate ``keep_last`` with the oldest warehouse
snapshot you need (same contract as Delta VACUUM vs time travel).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from pw_etl_scrumptious_squad_spark.sources.parquet import (
    ConcurrentWriteError,
    _claim_version,
    _manifest_dir,
    fs_delete,
    fs_read_text,
    snapshot_read,
    table_version,
)

# the warehouse manifest lives beside the table manifests under a name
# no real table can collide with
_WH = "__warehouse__"


def warehouse_version(base_dir: str, spark: SparkSession | None = None) -> int:
    """Latest committed warehouse snapshot id (0 = never committed)."""
    return table_version(base_dir, _WH, spark)


def commit_warehouse_snapshot(
    base_dir: str,
    tables: list[str] | dict[str, int],
    spark: SparkSession | None = None,
    retries: int = 3,
) -> int:
    """Atomically publish one consistent cross-table snapshot.

    ``tables`` is either a list of table names — each pinned at its
    CURRENT committed version (call this as the last step of an ETL
    cycle, after every table write landed) — or an explicit
    ``{table: version}`` map. Returns the new warehouse snapshot id.

    Claim losses (another cycle committed concurrently) retry with the
    next slot: the content doesn't depend on the slot number, so a
    retry republishes the same consistent set under a later id."""
    if isinstance(tables, dict):
        pinned = {t: int(v) for t, v in tables.items()}
    else:
        pinned = {t: table_version(base_dir, t, spark) for t in tables}
    missing = sorted(t for t, v in pinned.items() if v <= 0)
    if missing:
        raise ValueError(
            "cannot pin tables never committed through the versioned"
            f" path: {missing}"
        )
    payload = json.dumps(pinned, sort_keys=True)
    last_err: ConcurrentWriteError | None = None
    for _ in range(max(1, retries)):
        expected = warehouse_version(base_dir, spark)
        try:
            return _claim_version(
                base_dir, _WH, expected, spark, data_rel=payload
            )
        except ConcurrentWriteError as err:  # lost the slot — re-read, retry
            last_err = err
    raise last_err  # type: ignore[misc]


def warehouse_snapshot_tables(
    base_dir: str,
    snapshot: int | None = None,
    spark: SparkSession | None = None,
) -> dict[str, int]:
    """The ``{table: version}`` map a warehouse snapshot pins
    (``snapshot=None`` = latest). Raises if no snapshot was ever
    committed or the requested id doesn't exist."""
    v = snapshot if snapshot is not None else warehouse_version(base_dir, spark)
    if v <= 0:
        raise FileNotFoundError(f"no warehouse snapshot committed in {base_dir}")
    marker = os.path.join(_manifest_dir(base_dir, _WH), f"v{v}")
    text = fs_read_text(marker, spark)
    if text is None:
        raise FileNotFoundError(
            f"warehouse snapshot v{v} does not exist in {base_dir}"
        )
    return {t: int(n) for t, n in json.loads(text).items()}


def vacuum_warehouse(
    base_dir: str, keep_last: int = 2, spark: SparkSession | None = None
) -> list[str]:
    """Retire warehouse snapshots older than the most recent
    ``keep_last`` by deleting their markers — the explicit UNPIN step.

    A committed warehouse marker pins every ``{table: version}`` it
    names against :func:`~pw_etl_scrumptious_squad_spark.sources.
    parquet.vacuum_table` (which scans these markers and refuses to
    reclaim pinned versions, whatever ``keep_last`` says). Retention is
    therefore two explicit moves: retire old warehouse snapshots here,
    THEN vacuum tables — never a silent keep_last mismatch. Deleting
    old markers can't change the latest version (``table_version`` is
    the max marker). Scheme-agnostic like ``vacuum_table`` (round-10).
    Returns the deleted marker names."""
    latest = warehouse_version(base_dir, spark)
    keep_floor = max(1, latest - keep_last + 1)
    mdir = _manifest_dir(base_dir, _WH)
    deleted = []
    for v in range(1, keep_floor):
        if fs_delete(os.path.join(mdir, f"v{v}"), spark=spark):
            deleted.append(f"v{v}")
    return deleted


def read_warehouse_snapshot(
    spark: SparkSession,
    base_dir: str,
    name: str,
    snapshot: int | None = None,
) -> DataFrame:
    """Read ``name`` at the version a warehouse snapshot pins — every
    table read through the same ``snapshot`` id is mutually consistent
    no matter what concurrent ETL cycles commit meanwhile. Raises
    KeyError when the snapshot doesn't include the table (schema grew
    later — read the table directly or commit a new snapshot)."""
    pinned = warehouse_snapshot_tables(base_dir, snapshot, spark)
    if name not in pinned:
        raise KeyError(
            f"table {name!r} is not part of warehouse snapshot"
            f" {snapshot if snapshot is not None else warehouse_version(base_dir, spark)}"
        )
    return snapshot_read(spark, base_dir, name, version=pinned[name])
