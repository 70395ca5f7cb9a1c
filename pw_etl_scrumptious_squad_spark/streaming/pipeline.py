"""Structured Streaming pipelines (SURVEY.md §2.3).

The reference's architecture — EventBridge cron triggers, watermark recovery
from the last-written file, delta-only handoff through a bucket — is a
hand-rolled micro-batch streaming pipeline. Structured Streaming gives the
same semantics natively:

| Reference (SURVEY.md §2.3)           | Here                               |
|--------------------------------------|------------------------------------|
| EventBridge rate(N minutes)          | trigger(processingTime=...) /      |
|                                      | Trigger.AvailableNow               |
| watermark = max ts of last delta     | checkpointLocation (exactly-once   |
| file (src/extract.py:176-199)        | progress tracking)                 |
| strict-> delta predicate             | file-source discovers only new     |
|                                      | files; withWatermark bounds late   |
|                                      | data instead of silently dropping  |
| overwrite bucket with delta          | append-mode micro-batches          |
| load lists whole bucket every 3 min  | foreachBatch sink (idempotent by   |
| and re-appends (duplicates)          | batchId)                           |

At scale: the state store holds one entry per (window, key) — bounded by
watermark eviction; file-source listing is incremental; every transform
below is the same JVM-side DataFrame code as the batch path.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pw_etl_scrumptious_squad_spark.checkpoint import materialize
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

# Streaming-friendly events schema: parquet TIMESTAMP(NANOS) must be read
# as BIGINT (see sources/parquet.py) and converted after.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # epoch nanos OR micros (see below)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def detect_ts_unit(source_dir: str, col: str = "ts") -> str:
    """Read the timestamp unit ('ns' or 'us') ONCE from the first parquet
    footer under ``source_dir``. The testdata generator has shipped both
    TIMESTAMP(NANOS) and TIMESTAMP(MICROS) events files across rounds
    (TESTDATA.md); the footer's logical type is authoritative, unlike a
    per-row magnitude guess. Defaults to 'us' when no file exists yet
    (a stream can start on an empty directory)."""
    import glob
    import os

    import pyarrow.parquet as pq

    pattern = (
        source_dir
        if source_dir.endswith(".parquet")
        else os.path.join(source_dir, "*.parquet")
    )
    files = sorted(glob.glob(pattern)) or sorted(
        glob.glob(os.path.join(source_dir, "**", "*.parquet"), recursive=True)
    )
    if not files:
        return "us"
    field = pq.ParquetFile(files[0]).schema_arrow.field(col)
    unit = getattr(field.type, "unit", "us")
    return "ns" if unit == "ns" else "us"


def read_event_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int = 8,
    ts_unit: str | None = None,
) -> DataFrame:
    """File-source stream over an events directory: each new parquet file is
    a micro-batch (the streaming twin of the reference's 'new delta file in
    the bucket' handoff).

    ``ts_unit`` ('ns' | 'us') pins how the raw INT64 ``ts`` is decoded;
    when omitted it is detected once from the first file's parquet footer
    (:func:`detect_ts_unit`) — NOT guessed per row by magnitude, which
    would silently mis-decode pre-1986 nanos values and normalize a
    mixed-unit directory inconsistently. A directory whose later files
    switch units needs an explicit restart with the right ``ts_unit``;
    that's a generation change, not late data."""
    if ts_unit is None:
        ts_unit = detect_ts_unit(source_dir)
    if ts_unit not in ("ns", "us"):
        raise ValueError(f"ts_unit must be 'ns' or 'us', got {ts_unit!r}")
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    # The LongType schema surfaces the raw INT64 (epoch nanos under
    # nanosAsLong for TIMESTAMP(NANOS) files, epoch micros otherwise).
    expr = "timestamp_micros(ts div 1000)" if ts_unit == "ns" else (
        "timestamp_micros(ts)"
    )
    return raw.withColumn("ts", F.expr(expr))


def hourly_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window aggregation with late-data bound — the streaming twin
    of catalog q09_events_hourly. Late rows inside the watermark update
    their window; beyond it they are dropped *visibly* (the reference's
    strict-> predicate drops ties silently, src/extract.py:110-112)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("total_value"),
        )
        .select(
            F.col("win.start").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_rollup(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (gap-based), the streaming twin of catalog
    q10_sessionize's lag+running-sum batch formulation."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id: re-delivered events (at-least-once
    sources, replayed files) are dropped while their key is inside the
    watermark window — the streaming twin of d01/dedup_exact. State is one
    entry per key per watermark window, evicted automatically; the batch
    reference's duplicate-append flaw (src/load.py:63-110) has no streaming
    equivalent here by construction."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


RUNNING_STATS_SCHEMA = (
    "user_id LONG, n_events LONG, n_purchases LONG, last_event_type STRING"
)
RUNNING_STATS_STATE_SCHEMA = "n LONG, np LONG, last STRING"


def running_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a per-user
    profile accumulator (event count, purchase count, last event type)
    carried across micro-batches in the state store.

    This is the escape hatch for stateful logic the built-in windowed
    aggregations can't express (cross-batch counters, custom eviction,
    model-ish state). State is one tiny tuple per user — bounded, and
    partitioned by the grouping key so a 1000-executor cluster shards it
    naturally. Arrow batches in and out; no row-at-a-time Python.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        n, n_purchases, last = (
            state.get if state.exists else (0, 0, None)
        )
        for pdf in pdfs:
            # files can arrive out of ts order within a batch; take the
            # max-ts row of this batch as 'last'
            if len(pdf):
                n += len(pdf)
                n_purchases += int((pdf["event_type"] == "purchase").sum())
                last = pdf.loc[pdf["ts"].idxmax(), "event_type"]
        state.update((n, n_purchases, last))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "n_purchases": [n_purchases],
                "last_event_type": [last],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        RUNNING_STATS_SCHEMA,
        RUNNING_STATS_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def attribution_join(
    events: DataFrame,
    trigger_type: str = "view",
    outcome_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: attribute each ``outcome_type`` event to
    every ``trigger_type`` event by the same user in the preceding
    ``within`` interval (classic view→purchase attribution).

    Both sides carry a watermark and the join condition bounds event time
    on BOTH ends, so Spark can size the join state and evict rows once
    they can no longer match — the requirements for a bounded-state
    stream-stream join (unbounded conditions would grow state forever on
    a 100 TB/day event feed). State per side ≈ events inside
    (watermark + within), partitioned by user_id.
    """
    trig = (
        events.where(F.col("event_type") == trigger_type)
        .select(
            F.col("user_id").alias("t_user"),
            F.col("event_id").alias("trigger_id"),
            F.col("ts").alias("t_ts"),
        )
        .withWatermark("t_ts", watermark)
    )
    out = (
        events.where(F.col("event_type") == outcome_type)
        .select(
            F.col("user_id").alias("o_user"),
            F.col("event_id").alias("outcome_id"),
            F.col("ts").alias("o_ts"),
            F.col("value").alias("outcome_value"),
        )
        .withWatermark("o_ts", watermark)
    )
    joined = trig.join(
        out,
        (F.col("t_user") == F.col("o_user"))
        & (F.col("o_ts") >= F.col("t_ts"))
        & (F.col("o_ts") <= F.col("t_ts") + F.expr(f"INTERVAL {within}")),
    )
    return joined.select(
        F.col("t_user").alias("user_id"),
        "trigger_id",
        "outcome_id",
        "t_ts",
        "o_ts",
        "outcome_value",
    )


def run_available_now(
    df: DataFrame,
    checkpoint_dir: str,
    sink_table: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """Drain everything currently available, then stop — the batch-like
    trigger that replaces 'run the Lambda now' (Trigger.AvailableNow).

    Note: in ``append`` mode a windowed aggregation only emits windows the
    final watermark has closed — windows at the tail of a drained stream are
    withheld until more data advances the watermark. Use ``complete`` for
    drain-everything snapshots, ``append`` for incremental sinks."""
    return (
        df.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .format("memory")
        .queryName(sink_table)
        .start()
    )


def run_foreach_batch(
    df: DataFrame,
    checkpoint_dir: str,
    batch_fn: Callable[[DataFrame, int], None],
    output_mode: str = "append",
    processing_time: str | None = None,
) -> StreamingQuery:
    """Micro-batch sink hook: ``batch_fn(batch_df, batch_id)`` is the place
    for JDBC warehouse appends (sources/jdbc.append_table) — the streaming
    replacement for the reference's 3-minute re-list-and-append load loop
    (src/load.py:63-110), with batchId making idempotence possible."""
    writer = (
        df.writeStream.option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .foreachBatch(batch_fn)
    )
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_to_jdbc(
    df: DataFrame,
    checkpoint_dir: str,
    cfg,
    table: str,
    batch_size: int = 1000,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Streaming warehouse load into a LIVE JDBC database, exactly-once
    per micro-batch: every row carries a ``__batch_id`` audit column, and
    each batch first DELETEs any rows its id already wrote, then appends
    — the standard transactional-foreachBatch recipe. A crash between the
    sink write and the checkpoint commit replays the batch with the SAME
    id and identical content, so the delete-then-append converges instead
    of duplicating (the reference's 3-minute re-list-and-append loop,
    ``src/load.py:63-110``, duplicates on exactly this replay).

    Scale shape: the delete is an indexed predicate on one constant, the
    append is the same batched multi-row insert as the batch loader;
    per-trigger cost is proportional to the micro-batch, never to the
    warehouse."""
    return run_foreach_batch(
        df,
        checkpoint_dir,
        jdbc_batch_sink(cfg, table, batch_size),
        "append",
        processing_time,
    )


def jdbc_batch_sink(
    cfg, table: str, batch_size: int = 1000
) -> Callable[[DataFrame, int], None]:
    """The delete-then-append foreachBatch callable behind
    :func:`stream_to_jdbc`, exposed so a replayed micro-batch (same id,
    same content — what Structured Streaming delivers after a crash
    between sink write and checkpoint commit) can be driven directly in
    tests and shown to converge instead of duplicate."""
    from pw_etl_scrumptious_squad_spark.sources import jdbc as J

    qtable = (
        f"{J._quote_ident(cfg.schema, 'schema')}"
        f".{J._quote_ident(table, 'table')}"
    )

    def batch_fn(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        try:
            J.execute_update(
                spark,
                cfg,
                f'DELETE FROM {qtable} WHERE "__batch_id" = {int(batch_id)}',
            )
        except Exception:  # noqa: BLE001
            # first batch: the table doesn't exist yet — the append below
            # creates it; any real connectivity error re-raises there too
            pass
        J.append_table(
            batch.withColumn("__batch_id", F.lit(int(batch_id))),
            cfg,
            table,
            batch_size=batch_size,
        )

    return batch_fn


def streaming_incremental_dedup(
    docs_stream: DataFrame,
    store_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Streaming fuzzy dedup: each micro-batch of documents is deduped
    against everything seen so far via ``dedup.incremental_lsh_neardup``,
    then appended to the signature store. The union of all emitted pairs
    equals a batch `minhash_lsh_dedup` over the full corpus (banding is
    deterministic; a pair is emitted exactly when its LATER doc arrives).

    Store layout: one parquet table of (doc_id, text, minhash) — the
    signature table and the doc lookup the verify step needs. At scale
    the store is the persisted signatures table partitioned by band-hash,
    the text lookup is the corpus table itself, and the append becomes a
    MERGE for retry idempotence (parquet append is at-least-once here;
    re-emitted pairs are distinct-able downstream by (doc_a, doc_b)).
    """
    from pw_etl_scrumptious_squad_spark.operators import dedup

    spark = docs_stream.sparkSession

    def batch_fn(batch: DataFrame, batch_id: int) -> None:
        batch = batch.select(id_col, text_col).transform(materialize)
        if not batch.head(1):  # empty trigger: nothing to hash or store
            return
        sigs = dedup.minhash_signatures(
            batch, id_col, text_col, num_perm
        ).transform(materialize)
        try:
            store = spark.read.parquet(store_dir)
            have_store = True
        except Exception:
            have_store = False
        if have_store:
            pairs = dedup.incremental_lsh_neardup(
                store.select(
                    F.col(id_col), F.col("text").alias(text_col)
                ),
                batch,
                id_col,
                text_col,
                num_perm=num_perm,
                bands=bands,
                threshold=threshold,
                base_sigs=store.select(
                    F.col(id_col).alias("doc_id"), "minhash"
                ),
                new_sigs=sigs,
            )
        else:  # first batch: plain self-dedup
            cands = dedup.lsh_candidate_pairs(sigs, bands, sig_len=num_perm)
            pairs = dedup.jaccard_verify(
                cands, batch, id_col, text_col, threshold=threshold
            )
        pairs.write.mode("append").parquet(pairs_dir)
        batch.join(
            sigs.withColumnRenamed("doc_id", id_col), id_col
        ).write.mode("append").parquet(store_dir)

    return run_foreach_batch(
        docs_stream, checkpoint_dir, batch_fn, processing_time=processing_time
    )


def _cc_part(col, num_parts: int):
    """Deterministic label-range partitioner for the CC label store:
    every member of a component shares its label, so a whole component
    lives in one sub-table and a merge touches exactly the sub-tables
    of the labels involved."""
    return F.pmod(F.xxhash64(col), F.lit(num_parts)).cast("int")


def cc_store_versions(labels_dir: str, spark=None) -> dict[str, int]:
    """The ``{sub_table: version}`` map the store's latest warehouse
    marker pins — the observability hook the write-volume assertion
    uses (an untouched sub-table keeps its version across batches)."""
    from pw_etl_scrumptious_squad_spark.sources import warehouse as W

    return W.warehouse_snapshot_tables(labels_dir, None, spark)


def read_cc_labels(
    spark: SparkSession, labels_dir: str, snapshot: int | None = None
) -> DataFrame:
    """Read the streaming CC label store: one consistent
    ``(node, cluster_id)`` view across all label sub-tables, pinned by
    the store's warehouse marker (``snapshot=None`` = latest; older ids
    time-travel to the store as of that micro-batch)."""
    from pw_etl_scrumptious_squad_spark.sources import warehouse as W
    from pw_etl_scrumptious_squad_spark.sources.parquet import snapshot_read

    pinned = W.warehouse_snapshot_tables(labels_dir, snapshot, spark)
    out = None
    for name, version in sorted(pinned.items()):
        df = snapshot_read(spark, labels_dir, name, version=version).select(
            "node", "cluster_id"
        )
        out = df if out is None else out.unionByName(df)
    if out is None:  # pragma: no cover - commit always pins >=1 table
        raise FileNotFoundError(f"empty CC label store in {labels_dir}")
    return out


def streaming_incremental_cc(
    edges_stream: DataFrame,
    labels_dir: str,
    checkpoint_dir: str,
    processing_time: str | None = None,
    num_parts: int = 16,
    retain_snapshots: int | None = None,
) -> StreamingQuery:
    """Streaming duplicate-CLUSTER maintenance (round 8; MERGE store
    round 9): each micro-batch of near-dup edges (e.g. the pairs
    :func:`streaming_incremental_dedup` emits) folds into the persisted
    ``(node, cluster_id)`` label store via
    ``dedup.incremental_cc_delta`` — the per-trigger COMPUTE is the
    batch + touched components, never the corpus (the fold's
    x1/x10/x100 curve is FLAT; BENCH_scale op_incremental_cc).

    The store WRITE now matches: labels live in ``num_parts``
    sub-tables hash-partitioned by cluster_id (a component is wholly
    inside one sub-table), each a versioned snapshot table
    (sources/parquet publish-then-claim — Hadoop FileSystem chain, so
    the store works on s3a://-class schemes; viewfs:// tested). Per
    batch only the sub-tables holding a remapped label (old or new
    side) or a fresh node's label are rewritten; the rest keep their
    version untouched. One warehouse marker
    (sources/warehouse.commit_warehouse_snapshot) then CAS-pins the
    whole ``{sub_table: version}`` set, so readers
    (:func:`read_cc_labels`) flip between complete consistent stores —
    a crash mid-batch publishes data dirs but no marker, and the
    replayed batch recommits identical content. Sizing: pick
    ``num_parts`` so one sub-table is a bounded rewrite (corpus/parts);
    the rewrite volume per batch is (touched sub-tables) x that bound,
    ∝ touched labels for fixed sizing.

    ``retain_snapshots``: retire warehouse markers beyond the newest N
    after each commit and vacuum unpinned sub-table versions, bounding
    store growth for soak runs; None keeps every batch's snapshot
    readable (full time travel). Scheme-agnostic — the vacuum
    primitives route through the Hadoop FileSystem chain, so retention
    bounds a viewfs://-or-s3a://-hosted store the same as a local one.

    Final labels equal a batch :func:`dedup.connected_components` over
    the union of all delivered edges (pinned in tests, including
    cross-batch merges)."""
    from pw_etl_scrumptious_squad_spark.operators import dedup
    from pw_etl_scrumptious_squad_spark.sources import warehouse as W
    from pw_etl_scrumptious_squad_spark.sources.parquet import (
        snapshot_read,
        vacuum_table,
        write_table_snapshot,
    )

    spark = edges_stream.sparkSession

    def _commit(pinned: dict[str, int]) -> None:
        W.commit_warehouse_snapshot(labels_dir, pinned, spark)
        if retain_snapshots is not None:
            # scheme-agnostic since round 10: the vacuum primitives ride
            # the Hadoop FileSystem chain, so an object-store soak stays
            # bounded too (previously local-paths-only)
            W.vacuum_warehouse(
                labels_dir, keep_last=retain_snapshots, spark=spark
            )
            for name in pinned:
                vacuum_table(labels_dir, name, keep_last=1, spark=spark)

    def batch_fn(batch: DataFrame, batch_id: int) -> None:
        batch = batch.select("doc_a", "doc_b").transform(materialize)
        if not batch.head(1):
            return
        nodes = (
            batch.select(F.col("doc_a").alias("doc_id"))
            .unionByName(batch.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        if W.warehouse_version(labels_dir, spark) == 0:
            labels = dedup.connected_components(
                batch, nodes, "doc_id"
            ).transform(materialize)
            part = _cc_part(F.col("cluster_id"), num_parts)
            _commit({
                f"labels_p{i}": write_table_snapshot(
                    labels.filter(part == i), labels_dir, f"labels_p{i}"
                )
                for i in range(num_parts)
            })
            return
        cur = W.warehouse_snapshot_tables(labels_dir, None, spark)
        eff_parts = len(cur)  # the store's creation-time partitioning wins
        base = read_cc_labels(spark, labels_dir).transform(materialize)
        remap, fresh = dedup.incremental_cc_delta(base, batch, new_nodes=nodes)
        remap = remap.transform(materialize)
        fresh = fresh.transform(materialize)
        touched = sorted(
            r["p"]
            for r in (
                remap.select(_cc_part(F.col("lbl"), eff_parts).alias("p"))
                .unionByName(
                    remap.select(_cc_part(F.col("new_lbl"), eff_parts).alias("p"))
                )
                .unionByName(
                    fresh.select(
                        _cc_part(F.col("cluster_id"), eff_parts).alias("p")
                    )
                )
                .distinct()
                .collect()
            )
        )
        if not touched:  # intra-component edges only, no new nodes
            return
        old = None
        for i in touched:
            df = snapshot_read(
                spark, labels_dir, f"labels_p{i}", version=cur[f"labels_p{i}"]
            )
            old = df if old is None else old.unionByName(df)
        merged = (
            old.join(broadcast(remap), F.col("cluster_id") == F.col("lbl"), "left")
            .select(
                "node",
                F.coalesce("new_lbl", F.col("cluster_id")).alias("cluster_id"),
            )
            .unionByName(fresh)
            .transform(materialize)
        )
        part = _cc_part(F.col("cluster_id"), eff_parts)
        pinned = dict(cur)
        for i in touched:
            pinned[f"labels_p{i}"] = write_table_snapshot(
                merged.filter(part == i), labels_dir, f"labels_p{i}"
            )
        _commit(pinned)

    return run_foreach_batch(
        edges_stream, checkpoint_dir, batch_fn, processing_time=processing_time
    )


def running_user_stats_tws(events: DataFrame) -> DataFrame:
    """``running_user_stats`` on the successor API,
    ``transformWithStateInPandas`` (Spark 4): an explicit
    ``StatefulProcessor`` class with typed ``ValueState`` handles instead
    of ``applyInPandasWithState``'s positional state tuple.

    Same semantics/output as the applyInPandasWithState twin (the parity
    test asserts it); what the new API buys at scale: named per-key state
    primitives (value/list/map) with independent TTLs, state schema
    evolution, and the RocksDB state-store backend (required — state no
    longer needs to fit the executor heap, the practical ceiling for
    per-user state on a 100 TB/day feed).

    Environment note: the TWS driver worker imports google.protobuf,
    absent in this container — the parity test importorskips and the
    applyInPandasWithState twin stays the locally-verified path.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getValueState("counts", "n LONG, np LONG")
            self._last = handle.getValueState("last", "last STRING, ts LONG")

        def handleInputRows(self, key, rows, timerValues):
            n, np_ = (
                self._counts.get() if self._counts.exists() else (0, 0)
            )
            last, last_ts = (
                self._last.get() if self._last.exists() else (None, -1)
            )
            for pdf in rows:
                if len(pdf):
                    n += len(pdf)
                    np_ += int((pdf["event_type"] == "purchase").sum())
                    i = pdf["ts"].idxmax()
                    ts_us = int(pdf.loc[i, "ts"].value // 1000)
                    if ts_us > last_ts:
                        last, last_ts = pdf.loc[i, "event_type"], ts_us
            self._counts.update((n, np_))
            self._last.update((last, last_ts))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "n_purchases": [np_],
                    "last_event_type": [last],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        RunningStats(),
        RUNNING_STATS_SCHEMA,
        "Update",
        "None",
    )


def streaming_quality_screen(
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Streaming twin of the Gopher quality battery (catalog y34): apply
    the map-side rule screen to an arriving document stream and append
    kept documents (with their metrics and the keep decision) to a
    parquet sink.

    The battery is STATELESS — pure per-row expressions — so the
    streaming plan is the batch plan under a file source: no state
    store, no watermark, exactly-once via the checkpoint + file-sink
    log. This is the shape for screening a live crawl before anything
    stateful (dedup, LM scoring) sees it: drops happen at ingest, so
    downstream state (signature stores, LM counts) never holds rejected
    documents. Batch==stream parity is pinned in tests.
    """
    from pw_etl_scrumptious_squad_spark.operators.text import gopher_quality

    screened = gopher_quality(docs_stream).select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "nonalpha_ratio",
        "n_stopword_hits",
        "top_token_ratio",
        F.col("keep").cast("int").alias("keep"),
        "drop_reason",
    )
    writer = (
        screened.filter(F.col("keep") == 1)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if processing_time:
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_cardinality_monitor(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Distinct-user cardinality monitor per tumbling hour — the HLL
    register stream (the y61 sketch as STREAMING state): registers are
    per-(window, bucket) maxima, which Structured Streaming maintains
    natively as a watermarked max-agg (no custom state store), bounded
    at 256 rows per open window. Finalize any landed register set with
    ``curation.hll_estimate_from_registers`` (batch side — the estimate
    is a read-time fold, the registers are the mergeable truth you
    persist; identical contract to the incremental shingle/minhash
    stores). A cardinality spike (bot flood, id-space bug) shows up in
    the estimates without ever keeping per-user state.

    The grouping keeps the ``window`` struct itself as a group column
    through the max-agg (the hourly_rollup pattern) and extracts
    ``win.start`` only AFTER the aggregation — grouping by a plain
    extracted timestamp would detach the agg from the watermark, so
    state could never be evicted and append-mode sinks would reject
    the query."""
    from pw_etl_scrumptious_squad_spark.operators import curation

    base = events.withWatermark("ts", watermark).select(
        F.window("ts", "1 hour").alias("win"),
        F.col("user_id").cast("string").alias("uid"),
    )
    regs = curation.hll_registers(base, ["win"], "uid")
    return regs.select(
        F.col("win.start").alias("hour_start"), "__bucket", "__r"
    )


def _read_store(
    spark: SparkSession,
    store_dir: str,
    table: str,
    snapshot: int | None = None,
) -> tuple[DataFrame, dict]:
    """The ``(summary, meta row)`` pair a sketch store's warehouse
    snapshot pins (``snapshot=None`` = latest); the marker is resolved
    once, so the two always come from the same batch."""
    from pw_etl_scrumptious_squad_spark.sources import warehouse as W
    from pw_etl_scrumptious_squad_spark.sources.parquet import snapshot_read

    pinned = W.warehouse_snapshot_tables(store_dir, snapshot, spark)
    meta = snapshot_read(
        spark, store_dir, "meta", version=pinned["meta"]
    ).first().asDict()
    return snapshot_read(spark, store_dir, table, version=pinned[table]), meta


def _sketch_store(
    stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    processing_time: str | None,
    table: str,
    summarize: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame], DataFrame],
    params: dict[str, int],
    total_col: str | None = None,
    trim: Callable[[DataFrame], tuple[DataFrame, int]] | None = None,
) -> StreamingQuery:
    """The one store protocol of the streaming sketches below: fold each
    micro-batch's mergeable summary into a persisted store whose size is
    bounded by the sketch, never by the history.

    Layout: the summary table ``table`` and a 1-row ``meta`` table of
    BIGINT columns in this order: ``total`` (cumulative sum of the
    summaries' ``total_col``, when given), ``dec`` (cumulative trimmed
    amount, when ``trim`` is given), the sketch ``params``, and
    ``last_bid``, the last applied batch id.

    Per trigger:

    1. ``summarize(batch)`` is materialized. An empty summary (its
       ``total_col`` sums to 0, or it has no row) returns before the
       store is touched.
    2. The latest warehouse marker resolves the (summary, meta) pair.
       foreachBatch is at-least-once: a batch replayed after its marker
       committed (crash between the warehouse commit and the streaming
       checkpoint commit) would merge twice, so the commit is keyed on
       the batch id, and an incoming ``batch_id <= last_bid`` returns
       untouched. A meta without ``last_bid`` (stores from before round
       10) skips the guard, never a spurious skip.
    3. ``merge`` re-aggregates the union of the stored summary and the
       batch's (the first batch's summary is stored as is); ``trim``
       then bounds the result and returns the amount it subtracted.
    4. Publish: the summary and the meta row each write a versioned
       snapshot, and one warehouse marker CAS-pins the pair. Readers
       (:func:`_read_store`) never see a total from one batch against
       a summary from another; a batch that fails before its marker
       publishes data dirs but no marker, and its retry commits once.

    Before the stream starts, a store built with other ``params``
    raises ValueError and is left untouched: sketches of a different
    shape do not merge, and folding into one would break its
    guarantee."""
    from pw_etl_scrumptious_squad_spark.sources import warehouse as W
    from pw_etl_scrumptious_squad_spark.sources.parquet import (
        write_table_snapshot,
    )

    spark = stream.sparkSession
    params = {name: int(v) for name, v in params.items()}
    if params and W.warehouse_version(store_dir, spark) > 0:
        meta = _read_store(spark, store_dir, table)[1]
        stored = {name: meta.get(name) for name in params}
        if stored != params:
            raise ValueError(
                f"sketch store {store_dir} holds {stored}, not {params}"
            )

    def batch_fn(batch: DataFrame, batch_id: int) -> None:
        delta = summarize(batch).transform(materialize)
        if total_col is None:
            added = delta.limit(1).count()  # only emptiness is needed
        else:
            added = int(
                delta.agg(F.coalesce(F.sum(total_col), F.lit(0))).first()[0]
            )
        if added == 0:
            return
        merged, meta = delta, {}
        version = W.warehouse_version(store_dir, spark)
        if version > 0:
            prior, meta = _read_store(spark, store_dir, table, version)
            last_bid = meta.get("last_bid")
            if last_bid is not None and int(batch_id) <= last_bid:
                return
            merged = merge(prior.unionByName(delta))
        row = {}
        if total_col is not None:
            row["total"] = meta.get("total", 0) + added
        if trim is not None:
            merged, cut = trim(merged)
            row["dec"] = meta.get("dec", 0) + cut
        row.update(params, last_bid=int(batch_id))
        meta_df = spark.createDataFrame(
            [tuple(row.values())], ", ".join(f"{c} BIGINT" for c in row)
        )
        pinned = {
            name: write_table_snapshot(df, store_dir, name)
            for name, df in ((table, merged), ("meta", meta_df))
        }
        W.commit_warehouse_snapshot(store_dir, pinned, spark)

    return run_foreach_batch(
        stream, checkpoint_dir, batch_fn, processing_time=processing_time
    )


def streaming_heavy_hitters(
    texts_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    capacity: int = 4096,
    text_col: str = "text",
    processing_time: str | None = None,
) -> StreamingQuery:
    """Streaming heavy hitters with BOUNDED state: maintain a mergeable
    Misra-Gries summary of at most ``capacity`` token counters across
    micro-batches — the streaming half of
    ``text.heavy_hitters_exact``'s sketch-then-recount design, with the
    same one-sided guarantee. Store: ``mg`` + meta ``(total, dec,
    last_bid)`` under the :func:`_sketch_store` protocol.

    Merge law: exact batch token counts (explode + map-side-combined
    groupBy) union + re-sum with the persisted summary (<= capacity
    rows; the batch vocabulary is batch-bounded). If the merge exceeds
    ``capacity``: subtract the (capacity+1)-th largest merged count
    from EVERY counter and drop the non-positive rest — the
    mergeable-summaries trim (Agarwal et al.), which preserves the
    invariant that any token's true delivered count exceeds its counter
    by at most the cumulative trimmed amount D (``dec``), and D <=
    total/(capacity+1). The trim value is a count (not a token pick),
    so ties cannot make the store partition-dependent. Unlike the CC
    store (whose merge is naturally idempotent), re-merging the same
    counts is NOT, which is what the protocol's ``last_bid`` guard is
    for.

    Guarantee read back by :func:`read_heavy_hitters`: every token with
    true frequency >= ceil(total/denom) is IN the summary whenever
    capacity + 1 > denom (the sketch over-admits, never misses);
    counters are exact lower bounds and counter+D exact upper bounds.
    Final-state parity vs the batch operator is pinned in
    tests/test_streaming.py (recounting the summary's candidates over
    the full delivered corpus reproduces heavy_hitters_exact)."""

    def trim(merged: DataFrame) -> tuple[DataFrame, int]:
        if merged.count() <= capacity:
            return merged, 0
        # the (capacity+1)-th largest count — a 1-row driver read over
        # the bounded (summary + batch-vocab) table
        v = int(
            merged.orderBy(F.col("cnt").desc(), "token")
            .offset(capacity)
            .limit(1)
            .first()["cnt"]
        )
        less = (F.col("cnt") - F.lit(v)).cast("bigint")
        return merged.withColumn("cnt", less).filter(F.col("cnt") > 0), v

    return _sketch_store(
        texts_stream, store_dir, checkpoint_dir, processing_time,
        table="mg",
        summarize=lambda batch: (
            batch.select(F.explode(F.split(text_col, " ")).alias("token"))
            .filter(F.col("token") != "")
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        ),
        merge=lambda both: (
            both.groupBy("token")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
            .transform(materialize)
        ),
        params={},
        total_col="cnt",
        trim=trim,
    )


def read_heavy_hitters(
    spark: SparkSession,
    store_dir: str,
    denom: int = 2000,
    snapshot: int | None = None,
) -> DataFrame:
    """Read the streaming MG store as of a warehouse snapshot: rows
    ``(token, cnt_min, cnt_max, threshold, guaranteed)`` for every
    summary token whose upper bound reaches the ceil(total/denom)
    threshold — the candidate set (provably a superset of the true
    heavy hitters when the store's capacity + 1 > denom); ``guaranteed``
    marks tokens whose LOWER bound already clears it. Exact counts, if
    needed, come from one recount pass over the corpus — the y82
    two-phase contract."""
    mg, meta = _read_store(spark, store_dir, "mg", snapshot)
    thr = (meta["total"] + denom - 1) // denom
    cnt_max = (F.col("cnt") + F.lit(meta["dec"])).cast("bigint")
    return (
        mg.select(
            "token",
            F.col("cnt").alias("cnt_min"),
            cnt_max.alias("cnt_max"),
            F.lit(thr).cast("bigint").alias("threshold"),
            (F.col("cnt") >= F.lit(thr)).alias("guaranteed"),
        )
        .filter(F.col("cnt_max") >= F.lit(thr))
    )


def streaming_quantile_sketch(
    values_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    value_col: str = "value",
    sub_bits: int = 7,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Streaming quantile sketch with BOUNDED state: fold each
    micro-batch's HDR-histogram bucket counts
    (operators/stats.py::quantile_sketch) into a persisted sketch store
    — the streaming twin of the batch sketch, made possible by the
    sketch being EXACTLY mergeable (union + re-sum per bucket is
    associative), so the landed store equals the batch sketch over
    everything delivered, bit-for-bit, whatever the batch boundaries
    were. Store: ``sketch`` (<= 64 * 2^sub_bits rows) + meta ``(total,
    sub_bits, last_bid)`` under the :func:`_sketch_store` protocol; a
    re-merged replay would double every count.

    Read back with :func:`read_sketch_quantiles` — any percentile at
    relative error < 2^(1-sub_bits), time-travelable by warehouse
    snapshot. The exact tier (stats.exact_quantiles) remains the
    oracle-checked batch companion (y85/c18)."""
    from pw_etl_scrumptious_squad_spark.operators import stats as S

    return _sketch_store(
        values_stream, store_dir, checkpoint_dir, processing_time,
        table="sketch",
        summarize=lambda batch: S.quantile_sketch(batch, value_col, sub_bits),
        merge=lambda both: both.groupBy("rep").agg(
            F.sum("n").cast("bigint").alias("n")
        ),
        params={"sub_bits": sub_bits},
        total_col="n",
    )


def read_sketch_quantiles(
    spark: SparkSession,
    store_dir: str,
    percentiles=(50, 90, 99),
    snapshot: int | None = None,
) -> DataFrame:
    """Read percentiles off the streaming sketch store as of a warehouse
    snapshot (None = latest): ``(quantile STRING, value BIGINT)`` at
    relative error < 2^(1-sub_bits), identical to the batch
    ``sketch_quantiles`` over everything delivered up to that
    snapshot."""
    from pw_etl_scrumptious_squad_spark.operators import stats as S

    sketch, meta = _read_store(spark, store_dir, "sketch", snapshot)
    return S.sketch_quantiles(sketch, percentiles, sub_bits=meta["sub_bits"])


def streaming_cms(
    items_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    item_col: str = "item",
    depth: int = 4,
    width: int = 4096,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Streaming Count-Min sketch with BOUNDED state: fold each
    micro-batch's ``depth x width`` counter deltas
    (operators/sketches.py::cms_sketch) into a persisted sketch store —
    possible because Count-Min counters sum associatively (union +
    re-sum per counter), so the landed store equals the batch sketch
    over everything delivered, bit-for-bit, whatever the batch
    boundaries were (pinned by the batch==stream parity test). The
    batch fold's shuffle is bounded by the counter universe, never the
    batch vocabulary. Store: ``sketch`` (<= depth*width rows) + meta
    ``(total, depth, width, last_bid)`` under the :func:`_sketch_store`
    protocol; a re-merged replay would double every counter.

    Read estimates back with :func:`read_cms_estimates` — the same
    one-sided (never-undercount) guarantee as the batch sketch, time-
    travelable by warehouse snapshot."""
    from pw_etl_scrumptious_squad_spark.operators import sketches as SK

    return _sketch_store(
        items_stream, store_dir, checkpoint_dir, processing_time,
        table="sketch",
        summarize=lambda batch: SK.cms_sketch(batch, item_col, depth, width),
        merge=lambda both: both.groupBy("r", "bucket").agg(
            F.sum("n").cast("bigint").alias("n")
        ),
        params={"depth": depth, "width": width},
        total_col="n",
    )


def read_cms_estimates(
    spark: SparkSession,
    store_dir: str,
    probes: DataFrame,
    item_col: str = "item",
    snapshot: int | None = None,
) -> DataFrame:
    """Point-query the streaming Count-Min store as of a warehouse
    snapshot (None = latest): ``(item, est_count BIGINT)``, identical
    to the batch ``cms_estimate`` over everything delivered up to that
    snapshot."""
    from pw_etl_scrumptious_squad_spark.operators import sketches as SK

    sketch, meta = _read_store(spark, store_dir, "sketch", snapshot)
    return SK.cms_estimate(
        sketch, probes, item_col, depth=meta["depth"], width=meta["width"]
    )


def streaming_kmv(
    items_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    group_col: str = "grp",
    item_col: str = "item",
    k: int = 256,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Streaming KMV distinct sketch with BOUNDED state: fold each
    micro-batch's per-group k-min-distinct hashes
    (operators/sketches.py::kmv_sketch) into a persisted sketch store.
    KMV merges EXACTLY (the k smallest distinct of a union are
    computable from the per-input k-min sets alone: flatten + distinct
    + head-k per group, all JVM array ops), so the landed store equals
    the batch sketch over everything delivered, bit-for-bit, whatever
    the batch boundaries were — which also means the set-algebra
    estimates (union / intersection distinct counts per group pair)
    read identically off the stream store. Store: ``sketch`` (<=
    groups*k hashes) + meta ``(k, last_bid)`` under the
    :func:`_sketch_store` protocol. The merge is naturally idempotent;
    the replay guard keeps the version history 1:1 with delivered
    batches and skips the wasted write.

    Read back with :func:`read_kmv_estimates`."""
    from pw_etl_scrumptious_squad_spark.operators import sketches as SK

    return _sketch_store(
        items_stream, store_dir, checkpoint_dir, processing_time,
        table="sketch",
        summarize=lambda batch: SK.kmv_sketch(batch, group_col, item_col, k),
        merge=lambda both: both.groupBy("grp").agg(
            F.expr(
                f"slice(array_sort(array_distinct(flatten("
                f"collect_list(hs)))), 1, {k})"
            ).alias("hs")
        ),
        params={"k": k},
    )


def read_kmv_estimates(
    spark: SparkSession,
    store_dir: str,
    pairs: list[tuple[str, str]] | None = None,
    snapshot: int | None = None,
) -> DataFrame:
    """Finalize the streaming KMV store as of a warehouse snapshot
    (None = latest) into per-group distinct estimates plus
    union/intersection rows per requested pair — identical to the
    batch ``kmv_set_estimates`` over everything delivered up to that
    snapshot."""
    from pw_etl_scrumptious_squad_spark.operators import sketches as SK

    sketch, meta = _read_store(spark, store_dir, "sketch", snapshot)
    return SK.kmv_set_estimates(sketch, k=meta["k"], pairs=pairs)


def streaming_hll(
    items_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    group_col: str = "grp",
    item_col: str = "item",
    p: int = 8,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Streaming HLL distinct-count store with BOUNDED state: fold each
    micro-batch's per-group registers
    (operators/curation.py::hll_registers) into a persisted register
    table by element-wise MAX — registers merge by max, so the landed
    store equals the batch registers over everything delivered,
    bit-for-bit, whatever the batch boundaries were (the property
    y98's cumulative time series uses along the day axis; this twin
    uses it along the arrival axis). The batch fold's shuffle is
    bounded by groups x 2^p. Store: ``regs`` + meta ``(p, last_bid)``
    under the :func:`_sketch_store` protocol; a re-applied max-merge is
    a no-op, and the replay guard skips the wasted write.

    Read back with :func:`read_hll_estimates` — identical to the batch
    ``hll_estimate_from_registers`` over everything delivered."""
    from pw_etl_scrumptious_squad_spark.operators import curation as C

    return _sketch_store(
        items_stream, store_dir, checkpoint_dir, processing_time,
        table="regs",
        summarize=lambda batch: C.hll_registers(
            batch.select(
                F.col(group_col).cast("string").alias("grp"),
                F.col(item_col).alias("__item"),
            ),
            ["grp"],
            "__item",
            p,
        ),
        merge=lambda both: both.groupBy("grp", "__bucket").agg(
            F.max("__r").alias("__r")
        ),
        params={"p": p},
    )


def read_hll_estimates(
    spark: SparkSession,
    store_dir: str,
    snapshot: int | None = None,
) -> DataFrame:
    """Finalize the streaming HLL register store as of a warehouse
    snapshot (None = latest): ``(grp, hll_estimate)``, identical to
    the batch estimate over everything delivered up to that
    snapshot."""
    from pw_etl_scrumptious_squad_spark.operators import curation as C

    regs, meta = _read_store(spark, store_dir, "regs", snapshot)
    return C.hll_estimate_from_registers(regs, ["grp"], meta["p"])
