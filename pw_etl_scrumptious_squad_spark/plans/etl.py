"""Batch ETL plan: extract -> transform -> load (reference's three Lambdas).

The reference runs three separate processes on EventBridge cron schedules,
handing off through S3 parquet (SURVEY.md §3). Here each stage is a pure
function over ``dict[str, DataFrame]`` inside one SparkSession; the stages
still compose through a parquet lake (so they can also run as independent
scheduled jobs), but nothing forces three processes — one driver submits all
stages and Catalyst sees the whole plan.

transform() maps the reference ``transform()`` (``src/transform.py:256-308``):
11 OLTP inputs -> 8 dims + 3 facts. Unlike the reference, missing inputs are
an explicit error up front rather than a mid-build crash
(``src/transform.py`` assumes all 11 exist — SURVEY.md §3.2 note).
"""

from __future__ import annotations

import os
import threading
from typing import Callable, TypeVar

from pyspark import InheritableThread, SparkContext
from pyspark.sql import DataFrame, SparkSession

from pw_etl_scrumptious_squad_spark.operators import dims, facts
from pw_etl_scrumptious_squad_spark.operators.cdc import (
    incremental_extract,
    table_maxima,
)
from pw_etl_scrumptious_squad_spark.schemas import OLTP_SCHEMAS
from pw_etl_scrumptious_squad_spark.sources import parquet as lake
from pw_etl_scrumptious_squad_spark.sources.state import (
    EPOCH,
    Watermark,
    WatermarkStore,
    delta_watermark,
)

OLTP_TABLES = sorted(OLTP_SCHEMAS)
T = TypeVar("T")


def _run_overlapped(tasks: list[Callable[[], T]]) -> list[T]:
    """Run independent Spark reads or writes concurrently on a pool of
    ``min(len(tasks), defaultParallelism)`` ``InheritableThread`` workers,
    so each task's jobs carry the caller's job group and local
    properties (precedent: ``operators.graph``'s overlapped edge count).
    Returns the tasks' results in task order. Every started task
    finishes before this returns; after a failure no new task starts,
    and the first failure is re-raised."""
    pending = list(enumerate(tasks))[::-1]
    results: list = [None] * len(tasks)
    errors: list[Exception] = []
    lock = threading.Lock()

    def worker() -> None:
        while True:
            with lock:
                if errors or not pending:
                    return
                i, task = pending.pop()
            try:
                results[i] = task()
            except Exception as exc:  # re-raised by the caller below
                with lock:
                    errors.append(exc)

    width = min(len(tasks), SparkContext.getOrCreate().defaultParallelism)
    threads = [InheritableThread(target=worker) for _ in range(width)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return results


# Snapshot maxima of every local source extract last scanned in this
# process: abs source table path -> (its lake.table_signature taken before
# the read, (max created_at, max last_updated)). One entry per source
# table, replaced when its signature changes.
_MAXIMA: dict[str, tuple[tuple, tuple]] = {}


def extract(
    spark: SparkSession,
    source_dir: str,
    staging_dir: str,
    state_path: str,
    inclusive: bool = False,
) -> dict[str, DataFrame]:
    """Incremental extract from parquet snapshots (the JDBC variant swaps
    ``lake.read_table`` for ``jdbc.read_incremental`` — same plan shape).

    Writes only non-empty deltas to the staging lake, overwriting per table —
    the reference's delta-propagation contract (``src/extract.py:250-253``).
    One state read, the sources read as one overlapped wave, one Spark job
    for the snapshot maxima of the sources whose signature changed
    (``table_maxima``, none when nothing changed), the per-table CDC
    decision (``incremental_extract``), overlapped staging writes, then
    one state commit: a failed staging write leaves the stored watermarks
    as they were, so the next cycle stages the same rows again.

    Memo trust rule: a source is signed with ``lake.table_signature``
    (file stat) BEFORE it is read, and its maxima are reused while that
    signature holds — the rule ``lake._PLAN_MEMO`` and the star refresh
    already trust. A write in between leaves a stale signature, which
    only makes the next cycle scan again. Schemed paths have no
    signature and are always scanned. The memo holds maxima, not
    decisions, so ``inclusive`` ties and the monotone watermark merge
    are exactly those of a full scan.
    """
    names = [name for name in OLTP_TABLES if lake.table_exists(source_dir, name)]
    sigs = {name: lake.table_signature(source_dir, name) for name in names}
    frames = _run_overlapped(
        [
            lambda name=name: lake.read_table(
                spark, source_dir, name, OLTP_SCHEMAS[name]
            )
            for name in names
        ],
    )
    snapshots = dict(zip(names, frames))
    keys = {name: os.path.abspath(lake.table_path(source_dir, name)) for name in names}
    known = {}
    for name in names:
        entry = _MAXIMA.get(keys[name])  # stored signatures are never None
        if entry is not None and entry[0] == sigs[name]:
            known[name] = entry[1]
    scanned = table_maxima(
        {name: df for name, df in snapshots.items() if name not in known}
    )
    for name, maxima in scanned.items():
        if sigs[name] is not None:
            _MAXIMA[keys[name]] = (sigs[name], maxima)
    store = WatermarkStore(spark, state_path)
    state = store.load()
    deltas, new_state = incremental_extract(
        snapshots, state, inclusive=inclusive, maxima={**known, **scanned}
    )
    _run_overlapped(
        [
            lambda df=df, name=name: lake.write_table(df, staging_dir, name)
            for name, df in deltas.items()
        ],
    )
    if new_state != state:
        store.save(new_state)
    return deltas


# Every star table's OLTP inputs, declared next to its builder: the one
# source of truth for both transform() and the warehouse refresh rule in
# run_batch_etl (a table is rewritten only when one of these inputs, or
# the table itself, changed on disk). A builder takes its inputs' frames
# in the declared order; the input-less dim_date takes the session.
STAR_BUILDERS: dict[str, tuple[tuple[str, ...], Callable[..., DataFrame]]] = {
    "dim_date": ((), dims.create_dim_date),
    "dim_staff": (("staff", "department"), dims.create_dim_staff),
    "dim_location": (("address",), dims.create_dim_location),
    "dim_currency": (("currency",), dims.create_dim_currency),
    "dim_design": (("design",), dims.create_dim_design),
    "dim_counterparty": (("address", "counterparty"), dims.create_dim_counterparty),
    "dim_transaction": (("transaction",), dims.create_dim_transaction),
    "dim_payment_type": (("payment_type",), dims.create_dim_payment_type),
    "fact_sales_order": (("sales_order",), facts.create_fact_sales_order),
    "fact_purchase_order": (("purchase_order",), facts.create_fact_purchase_order),
    "fact_payment": (("payment",), facts.create_fact_payment),
}


def _star_inputs() -> list[str]:
    return sorted({t for inputs, _ in STAR_BUILDERS.values() for t in inputs})


def transform(tables: dict[str, DataFrame], spark: SparkSession) -> dict[str, DataFrame]:
    """All 11 star-schema builders (reference ``src/transform.py:256-308``),
    driven by :data:`STAR_BUILDERS`."""
    missing = [t for t in _star_inputs() if t not in tables]
    if missing:
        raise ValueError(f"transform requires every star input; missing: {missing}")
    return {
        name: build(*(tables[t] for t in inputs)) if inputs else build(spark)
        for name, (inputs, build) in STAR_BUILDERS.items()
    }


def load(star: dict[str, DataFrame], warehouse_dir: str, mode: str = "append") -> None:
    """Load stage. Parquet-lake warehouse variant; the JDBC variant calls
    ``sources.jdbc.append_table`` per table (reference ``src/load.py:97-110``).

    Writes every table it is given; :func:`run_batch_etl` passes only the
    star tables its refresh rule finds stale. Facts are partitioned by
    ``created_date`` for partition pruning at scale (the reference writes
    flat files; SURVEY.md §4 'partition pruning: none'). The tables are
    independent, so their writes overlap (:func:`_run_overlapped`); every
    write has finished when this returns, and the first failure is
    re-raised.
    """
    _run_overlapped(
        [
            lambda df=df, name=name: lake.write_table(
                df,
                warehouse_dir,
                name,
                mode=mode,
                partition_by=["created_date"] if name.startswith("fact_") else None,
            )
            for name, df in star.items()
        ],
    )


def load_transactional(star: dict[str, DataFrame], warehouse_dir: str) -> int:
    """Load stage with CROSS-TABLE atomicity: every star table publishes
    a versioned snapshot (publish-then-claim, never overwriting the
    live data a concurrent reader has file-listed), then ONE warehouse
    marker pins the whole ``{table: version}`` set. A reader using
    ``sources.warehouse.read_warehouse_snapshot`` can never join this
    cycle's dim against last cycle's fact, and a crash mid-load
    publishes nothing. Returns the warehouse snapshot id."""
    from pw_etl_scrumptious_squad_spark.sources import warehouse as wh

    pinned = {}
    for name, df in star.items():
        partition_by = ["created_date"] if name.startswith("fact_") else None
        pinned[name] = lake.write_table_snapshot(
            df, warehouse_dir, name, partition_by=partition_by
        )
    return wh.commit_warehouse_snapshot(warehouse_dir, pinned)


# What run_batch_etl last wrote in this process: (abs warehouse dir, star
# table) -> (abs source dir, its inputs' lake.table_signature, its own
# signature right after the write). Only complete local entries are kept.
_WRITTEN: dict[tuple[str, str], tuple] = {}


def run_batch_etl(
    spark: SparkSession,
    source_dir: str,
    staging_dir: str,
    warehouse_dir: str,
    state_path: str,
    alert_manager=None,
) -> dict[str, DataFrame]:
    """Full E->T->L cycle over a parquet OLTP snapshot. Returns all 11
    star tables.

    Refresh rule: a star table is rewritten unless this process last
    wrote it from the same source dir, none of its declared inputs
    (:data:`STAR_BUILDERS`) changed on disk since, and the warehouse
    table is still the one written then — unchanged tables keep their
    old files, as in the reference (``src/extract.py:250-253``). The
    comparison is of file-stat signatures, not CDC watermarks, so hard
    deletes and rewrites without a timestamp bump still propagate, and a
    warehouse table removed or replaced outside the cycle is rewritten.
    A table read from or written to a schemed path (``s3a://``,
    ``file://``) has no signature and is always written, as is every
    table in a fresh process. An entry is dropped before its table's
    write and recorded only after the whole load returns, so a failed
    load is rewritten in full next cycle.

    ``alert_manager`` (an :class:`~pw_etl_scrumptious_squad_spark.alerts.
    AlertManager`, optional) closes the reference's alarm->notification
    surface (``terraform/alarm.tf``): the fact_payment load is observed
    with the standard DQ counters (Observation rides the load action —
    no second pass, so fact_payment is always written) and the manager's
    thresholds are evaluated once per batch, firing its sink per
    violation."""
    extract(spark, source_dir, staging_dir, state_path)
    # Dims and facts are re-derived from the full source snapshot
    # (SURVEY.md §2.3). Signatures are taken before the reads they
    # describe: a source rewritten in between leaves a stale entry, which
    # only makes the next cycle write the table again.
    names = _star_inputs()
    source_sigs = {name: lake.table_signature(source_dir, name) for name in names}
    tables = {
        name: lake.read_table(spark, source_dir, name, OLTP_SCHEMAS[name])
        for name in names
    }
    star = transform(tables, spark)
    src, wh = os.path.abspath(source_dir), os.path.abspath(warehouse_dir)
    inputs = {
        name: tuple(source_sigs[t] for t in deps)
        for name, (deps, _) in STAR_BUILDERS.items()
    }
    stale = {
        name: df
        for name, df in star.items()
        if _WRITTEN.get((wh, name))
        != (src, inputs[name], lake.table_signature(warehouse_dir, name))
    }
    obs = None
    if alert_manager is not None:
        from pw_etl_scrumptious_squad_spark.operators import dq

        observed_fact, obs = dq.observed(
            star["fact_payment"],
            "fact_payment_load",
            dq.standard_counters("payment_id", "payment_amount"),
        )
        star = dict(star, fact_payment=observed_fact)
        stale["fact_payment"] = observed_fact
    for name in stale:
        _WRITTEN.pop((wh, name), None)
    load(stale, warehouse_dir, mode="overwrite")
    for name in stale:
        written = lake.table_signature(warehouse_dir, name)
        if written is not None and None not in inputs[name]:
            _WRITTEN[(wh, name)] = (src, inputs[name], written)
    if alert_manager is not None:
        alert_manager.evaluate(obs.get, context="fact_payment_load")
    return star


def extract_jdbc(
    spark: SparkSession,
    cfg,
    staging_dir: str,
    state_path: str,
    tables: list[str] | None = None,
    probe: bool = False,
) -> dict[str, DataFrame]:
    """Incremental extract from a LIVE JDBC source: the CDC predicate is
    pushed into the database (reference ``src/extract.py:106-119`` —
    the DB does the delta filtering), watermarks advance from a
    distributed max-agg over each delta, and non-empty deltas stage to
    the parquet lake exactly like the parquet-snapshot variant. The state
    is read once and committed once, after every delta is staged.

    Per-table cost is the DB's index scan over the audit columns plus
    transfer of the delta rows only — the property that keeps a 3-minute
    cadence viable when the source is 10^9 rows.

    The delta is executed ONCE against the live source and pinned to
    disk: persist + count (one DB execution), stage to parquet, then the
    watermark max-agg and the RETURNED frame read the staged copy — not
    the JDBC scan, and not the Spark cache either (eviction would lazily
    re-execute the scan, letting rows committed since slip above the
    recorded watermark: staged contents, returned deltas and the
    watermark could diverge — at-least-once duplicates for append-mode
    consumers). Empty deltas return a literal empty frame for the same
    reason: a re-executed "empty" scan may no longer be empty.

    Schema drift (round 10): the CDC subquery is ``SELECT *``, so an
    upstream ``ALTER TABLE ADD COLUMN`` lands in the next delta
    automatically; the keyed merge path (``parquet.upsert_table``)
    NULL-backfills the new column onto already-loaded history and
    keeps retired columns as NULLs on new rows, while a TYPE change of
    an existing column fails loudly (``_align_evolving``) — never a
    silent cast. E2E-pinned against a live-Derby
    ``ALTER TABLE ADD COLUMN`` between cycles in
    tests/test_jdbc_roundtrip.py.

    ``probe=True`` prepends a pushed-down source-side watermark probe
    (``jdbc.probe_watermarks`` — one max-agg ROW per table, evaluated by
    the database): tables whose source maxima have not advanced past the
    stored watermark skip the CDC query entirely. The strict-``>``
    predicate makes the skip exact — a row qualifies only if some audit
    timestamp exceeds the stored watermark, which the probe would have
    seen. Most cycles on a rarely-changing source become metadata pings.
    """
    from pw_etl_scrumptious_squad_spark.sources import jdbc

    names = tables if tables is not None else OLTP_TABLES
    store = WatermarkStore(spark, state_path)
    state = store.load()
    new_state = dict(state)
    probed = jdbc.probe_watermarks(spark, cfg, names) if probe else {}
    deltas: dict[str, DataFrame] = {}
    for name in names:
        wm = state.get(name, Watermark(EPOCH, EPOCH))
        if probe:
            src_c, src_u = probed[name]
            unchanged_c = src_c is None or src_c <= wm.created_at
            unchanged_u = src_u is None or src_u <= wm.last_updated
            if unchanged_c and unchanged_u:
                # metadata-only schema resolution; no row transfer
                schema = cfg.apply(spark.read).option(
                    "dbtable",
                    jdbc.cdc_subquery(
                        f"{cfg.schema}.{name}", wm.created_at, wm.last_updated
                    ),
                ).load().schema
                deltas[name] = spark.createDataFrame([], schema)
                continue
        delta = jdbc.read_incremental(
            spark,
            cfg,
            f"{cfg.schema}.{name}",
            wm.created_at,
            wm.last_updated,
        ).persist()
        n_rows = delta.count()  # the single execution against the DB
        if n_rows > 0:
            lake.write_table(delta, staging_dir, name)
            staged = lake.read_table(spark, staging_dir, name, delta.schema)
            seen = delta_watermark(staged)
            new_state[name] = wm.merge(seen.created_at, seen.last_updated)
            deltas[name] = staged
        else:
            deltas[name] = spark.createDataFrame([], delta.schema)
        delta.unpersist()
    # one commit, after every delta is staged
    if new_state != state:
        store.save(new_state)
    return deltas


def load_jdbc(star: dict[str, DataFrame], cfg, batch_size: int = 1000) -> None:
    """Warehouse load over JDBC: batched appends per star table
    (reference ``src/load.py:97-110``; ``num_partitions`` bounds
    concurrent warehouse connections)."""
    from pw_etl_scrumptious_squad_spark.sources import jdbc

    for name, df in star.items():
        jdbc.append_table(df, cfg, name, batch_size=batch_size, num_partitions=2)


def run_batch_etl_jdbc(
    spark: SparkSession,
    source_cfg,
    warehouse_cfg,
    staging_dir: str,
    state_path: str,
) -> dict[str, DataFrame]:
    """The reference's full lifecycle with REAL databases on both ends:
    JDBC CDC extract -> star-schema transform -> batched JDBC load
    (src/extract.py -> src/transform.py -> src/load.py). Dims re-derive
    from the full source each cycle (reference §2.3 semantics); the
    staged deltas remain available for delta-only fact processing."""
    from pw_etl_scrumptious_squad_spark.sources import jdbc

    extract_jdbc(spark, source_cfg, staging_dir, state_path)
    tables = {
        name: jdbc.read_table(
            spark, source_cfg, f"{source_cfg.schema}.{name}"
        )
        for name in OLTP_TABLES
    }
    star = transform(tables, spark)
    load_jdbc(star, warehouse_cfg)
    return star
