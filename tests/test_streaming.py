"""Structured Streaming tests: the streaming pipelines must agree with
their batch twins on the same data (AvailableNow drain to a memory sink)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pw_etl_scrumptious_squad_spark.streaming import pipeline as sp

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF}/events.parquet", d / "part-000.parquet")
    return str(d)


def _drain(spark, stream_df, name, mode="complete"):
    # memory sinks don't support checkpoint recovery — always start fresh
    ckpt = tempfile.mkdtemp(prefix=f"ckpt-{name}-")
    q = sp.run_available_now(stream_df, ckpt, name, mode)
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_hourly_rollup_matches_batch(spark, events_dir):
    stream = sp.read_event_stream(spark, events_dir)
    got = _drain(spark, sp.hourly_rollup(stream), "hourly_sink")

    from pw_etl_scrumptious_squad_spark.sources.parquet import read_table

    batch = (
        read_table(spark, SF, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("total_value"),
        )
    )
    got_rows = {
        (r["hour_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in got.collect()
    }
    batch_rows = {
        (r["hour_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    # memory-sink timestamps come back tz-aware or naive depending on type;
    # compare by naive value
    got_rows = {(k[0].replace(tzinfo=None), k[1]): v for k, v in got_rows.items()}
    batch_rows = {(k[0].replace(tzinfo=None), k[1]): v for k, v in batch_rows.items()}
    assert got_rows == batch_rows


def test_session_rollup_total_events_preserved(spark, events_dir):
    stream = sp.read_event_stream(spark, events_dir)
    got = _drain(spark, sp.session_rollup(stream), "session_sink")
    total = got.agg(F.sum("n_events")).first()[0]
    assert total == 1000  # every event lands in exactly one session
    # session windows respect the gap: no two sessions of one user overlap
    rows = got.orderBy("user_id", "session_start").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for user_rows in by_user.values():
        for prev, nxt in zip(user_rows, user_rows[1:]):
            assert prev["session_end"] <= nxt["session_start"]

    # exact parity with the batch session_window twin (catalog z30's
    # shape): same sessions, same boundaries, same per-session counts
    from pw_etl_scrumptious_squad_spark.sources.parquet import read_table

    batch = (
        read_table(spark, SF, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    key = lambda r: (  # noqa: E731
        r["user_id"], r["session_start"], r["session_end"], r["n_events"]
    )
    assert sorted(map(key, rows)) == sorted(map(key, batch.collect()))


def test_foreach_batch_sink_receives_all_rows(spark, events_dir, tmp_path):
    stream = sp.read_event_stream(spark, events_dir)
    seen = []

    def batch_fn(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))

    q = sp.run_foreach_batch(stream, str(tmp_path / "ckpt"), batch_fn)
    q.awaitTermination(120)
    assert sum(n for _, n in seen) == 1000


def test_running_user_stats_stateful_across_batches(spark, tmp_path):
    # split events into 2 files and force 1 file per micro-batch so the
    # state store must carry counts across batches
    from pw_etl_scrumptious_squad_spark.sources.parquet import read_table

    events = read_table(spark, SF, "events")
    d = tmp_path / "ev2"
    d.mkdir()
    # plain parquet FILES (df.write.parquet makes a directory, which the
    # file stream source does not recurse into)
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF}/events.parquet")
    ids = t.column("event_id").to_numpy()
    pq.write_table(t.filter(pa.array(ids % 2 == 0)), str(d / "a.parquet"))
    pq.write_table(t.filter(pa.array(ids % 2 == 1)), str(d / "b.parquet"))

    stream = sp.read_event_stream(spark, str(d), max_files_per_trigger=1)
    stats = sp.running_user_stats(stream)
    ckpt = tempfile.mkdtemp(prefix="ckpt-stateful-")
    q = sp.run_available_now(stats, ckpt, "user_stats_sink", "update")
    q.awaitTermination(120)

    # update-mode memory sink appends one row per user per batch that saw
    # the user; the running counter's MAX per user is the final state
    got = {
        r["user_id"]: r["n_events"]
        for r in spark.sql(
            "SELECT user_id, max(n_events) AS n_events FROM user_stats_sink"
            " GROUP BY user_id"
        ).collect()
    }
    expected = {
        r["user_id"]: r["n"]
        for r in events.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == expected
    purchases = {
        r["user_id"]: r["np"]
        for r in spark.sql(
            "SELECT user_id, max(n_purchases) AS np FROM user_stats_sink"
            " GROUP BY user_id"
        ).collect()
    }
    expected_p = {
        r["user_id"]: r["np"]
        for r in events.groupBy("user_id")
        .agg(F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("np"))
        .collect()
    }
    assert purchases == expected_p


def test_dedup_stream_drops_redelivered_events(spark, tmp_path):
    # file a and file b share 500 events (simulated at-least-once
    # redelivery across micro-batches); the deduped stream must emit each
    # event_id exactly once
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "ev3"
    d.mkdir()
    t = pq.read_table(f"{SF}/events.parquet")
    ids = t.column("event_id").to_numpy()
    pq.write_table(t.filter(pa.array(ids < 750)), str(d / "a.parquet"))
    pq.write_table(t.filter(pa.array(ids >= 250)), str(d / "b.parquet"))

    stream = sp.read_event_stream(spark, str(d), max_files_per_trigger=1)
    deduped = sp.dedup_stream(stream)
    ckpt = tempfile.mkdtemp(prefix="ckpt-dedup-")
    q = sp.run_available_now(deduped, ckpt, "dedup_sink", "append")
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT event_id) AS nd FROM dedup_sink"
    ).first()
    assert got["n"] == 1000
    assert got["nd"] == 1000


def test_processing_time_soak_and_checkpoint_resume(spark, tmp_path):
    """Timed-trigger soak: a processingTime query must process >=2 separate
    micro-batches as files arrive (the reference's EventBridge cadence),
    and a restart on the same checkpoint must resume — only files that
    arrived while the query was down get processed, nothing re-emitted."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "soak"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt-soak")
    t = pq.read_table(f"{SF}/events.parquet")
    ids = t.column("event_id").to_numpy()

    def drop_file(name, mask):
        tmp = tmp_path / (name + ".tmp")
        pq.write_table(t.filter(pa.array(mask)), str(tmp))
        tmp.rename(d / name)  # atomic move so the source never sees partials

    drop_file("a.parquet", ids < 500)

    seen: list[tuple[int, int]] = []

    def batch_fn(batch_df, batch_id):
        n = batch_df.count()
        if n:
            seen.append((batch_id, n))

    stream = sp.read_event_stream(spark, str(d), max_files_per_trigger=1)
    q = sp.run_foreach_batch(
        stream, ckpt, batch_fn, processing_time="1 seconds"
    )
    try:
        deadline = time.time() + 60
        while not seen and time.time() < deadline:
            time.sleep(0.5)
        assert seen, "first timed micro-batch never fired"
        drop_file("b.parquet", ids >= 500)
        while len(seen) < 2 and time.time() < deadline:
            time.sleep(0.5)
        # drain before stopping: foreachBatch is at-least-once across an
        # UNGRACEFUL stop (a batch delivered to batch_fn but not yet
        # offset-committed replays on restart — observed under full-suite
        # host load as resumed re-counting file b). processAllAvailable
        # blocks until every delivered batch is committed, so the resume
        # below asserts exactly-once over a CLEAN shutdown, which is the
        # contract the engine's idempotent sinks (stream_to_jdbc
        # delete-then-append) actually rely on.
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    assert len(seen) >= 2  # two separate timed micro-batches
    assert sum(n for _, n in seen) == 1000
    assert len({b for b, _ in seen}) == len(seen)  # distinct batch ids

    # restart on the same checkpoint with a new file present: only the new
    # file is processed (offsets recovered), nothing from a/b re-emitted
    shifted = t.set_column(
        t.schema.get_field_index("event_id"),
        "event_id",
        pa.array(ids + 10_000),
    )
    tmp = tmp_path / "c.tmp"
    pq.write_table(shifted.filter(pa.array(ids < 100)), str(tmp))
    tmp.rename(d / "c.parquet")

    resumed: list[tuple[int, int]] = []

    def batch_fn2(batch_df, batch_id):
        n = batch_df.count()
        if n:
            resumed.append((batch_id, n))

    stream2 = sp.read_event_stream(spark, str(d), max_files_per_trigger=1)
    q2 = sp.run_foreach_batch(stream2, ckpt, batch_fn2)  # AvailableNow drain
    q2.awaitTermination(120)
    assert sum(n for _, n in resumed) == 100


def test_streaming_incremental_dedup_equals_batch_global(spark, tmp_path):
    """Union of per-micro-batch near-dup pairs == one batch MinHash-LSH run
    over the full corpus: a pair is emitted exactly once, when its later
    doc arrives (same-batch pairs via self-dedup, cross-batch via the
    signature store)."""
    from pw_etl_scrumptious_squad_spark.operators import dedup
    from pw_etl_scrumptious_squad_spark.sources.parquet import read_table

    docs = (
        read_table(spark, SF, "documents")
        .select("doc_id", "text")
        .localCheckpoint()
    )
    # three arrival files split deterministically -> three micro-batches
    src = tmp_path / "docs_stream"
    src.mkdir()
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"arrival={i}.parquet"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/arrival=*.parquet")
    )
    q = sp.streaming_incremental_dedup(
        stream,
        store_dir=str(tmp_path / "store"),
        pairs_dir=str(tmp_path / "pairs"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        num_perm=16,
        bands=8,
        threshold=0.5,
    )
    q.awaitTermination(180)

    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.minhash_lsh_dedup(
            docs, "doc_id", "text", num_perm=16, bands=8, threshold=0.5
        ).collect()
    }
    assert got == full
    assert full  # sf0.001 corpus contains at least one near-dup pair
    # the store now holds every doc exactly once with its signature
    store = spark.read.parquet(str(tmp_path / "store"))
    assert store.count() == docs.count()
    assert set(store.columns) == {"doc_id", "text", "minhash"}


def test_stream_stream_attribution_join_matches_batch(spark, events_dir):
    """Stream-stream interval join (view->purchase within 30 min per user)
    must emit exactly the rows the batch interval join produces. Both
    sides are watermarked and the condition bounds event time on both
    ends, so the join state is evictable (bounded) — asserted via the
    stateful-operator progress metrics."""
    stream = sp.read_event_stream(spark, events_dir)
    got = _drain(
        spark,
        sp.attribution_join(stream),
        "attr_sink",
        mode="append",
    )

    from pw_etl_scrumptious_squad_spark.sources.parquet import read_table

    ev = read_table(spark, SF, "events")
    trig = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("trigger_id"),
        F.col("ts").alias("t_ts"),
    )
    out = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("o_user"),
        F.col("event_id").alias("outcome_id"),
        F.col("ts").alias("o_ts"),
        F.col("value").alias("outcome_value"),
    )
    batch = trig.join(
        out,
        (F.col("t_user") == F.col("o_user"))
        & (F.col("o_ts") >= F.col("t_ts"))
        & (F.col("o_ts") <= F.col("t_ts") + F.expr("INTERVAL 30 minutes")),
    ).select("trigger_id", "outcome_id")

    got_pairs = sorted((r.trigger_id, r.outcome_id) for r in got.collect())
    exp_pairs = sorted(
        (r.trigger_id, r.outcome_id) for r in batch.collect()
    )
    assert got_pairs == exp_pairs
    assert len(got_pairs) > 0  # the fixture actually exercises the join


def test_transform_with_state_matches_apply_in_pandas_twin(spark, tmp_path):
    """The transformWithStateInPandas processor must reach the same final
    per-user state as the applyInPandasWithState operator on the same
    2-batch stream (cross-batch ValueState carry on the RocksDB store).

    Requires google.protobuf (the TWS driver worker speaks protobuf to
    the JVM); skipped where that package is unavailable — the
    applyInPandasWithState twin covers the semantics there."""
    pytest.importorskip("google.protobuf.descriptor")
    from pw_etl_scrumptious_squad_spark.sources.parquet import read_table

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "ev_tws"
    d.mkdir()
    t = pq.read_table(f"{SF}/events.parquet")
    ids = t.column("event_id").to_numpy()
    pq.write_table(t.filter(pa.array(ids % 2 == 0)), str(d / "a.parquet"))
    pq.write_table(t.filter(pa.array(ids % 2 == 1)), str(d / "b.parquet"))

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = sp.read_event_stream(spark, str(d), max_files_per_trigger=1)
        stats = sp.running_user_stats_tws(stream)
        ckpt = tempfile.mkdtemp(prefix="ckpt-tws-")
        q = sp.run_available_now(stats, ckpt, "user_stats_tws_sink", "update")
        q.awaitTermination(120)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )

    got = {
        r["user_id"]: (r["n"], r["np"], r["last"])
        for r in spark.sql(
            "SELECT user_id, max(n_events) AS n, max(n_purchases) AS np,"
            " max_by(last_event_type, n_events) AS last"
            " FROM user_stats_tws_sink GROUP BY user_id"
        ).collect()
    }
    events = read_table(spark, SF, "events")
    expected = {
        r["user_id"]: (r["n"], r["np"], r["last"])
        for r in events.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("np"),
            F.max_by("event_type", "ts").alias("last"),
        )
        .collect()
    }
    assert got == expected


def test_stream_to_jdbc_exactly_once(spark, tmp_path):
    """Streaming warehouse load into a LIVE Derby database: the drained
    stream lands every event exactly once, a checkpoint restart adds
    nothing, and a replayed micro-batch (same id, same rows — the crash-
    between-sink-and-checkpoint case) converges instead of duplicating."""
    import shutil as _sh

    from pw_etl_scrumptious_squad_spark.sources import jdbc as J
    from pw_etl_scrumptious_squad_spark.sources.parquet import read_table

    cfg = J.JdbcConfig(
        url=f"jdbc:derby:{tmp_path}/stream_wh;create=true",
        user="app",
        password="",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
        schema="APP",
        discover_sql=J.DISCOVER_TABLES_SQL_DERBY,
    )
    d = tmp_path / "ev"
    d.mkdir()
    _sh.copy(f"{SF}/events.parquet", d / "part-000.parquet")
    ckpt = str(tmp_path / "ckpt")

    stream = sp.read_event_stream(spark, str(d))
    q = sp.stream_to_jdbc(stream, ckpt, cfg, "events_wh")
    q.awaitTermination(120)
    n_src = read_table(spark, SF, "events").count()
    back = J.read_table(spark, cfg, "APP.events_wh")
    assert back.count() == n_src
    batch_ids = [r["__batch_id"] for r in back.select("__batch_id").distinct().collect()]
    assert len(batch_ids) >= 1

    # restart on the same checkpoint: no new data -> no new rows
    q2 = sp.stream_to_jdbc(sp.read_event_stream(spark, str(d)), ckpt, cfg, "events_wh")
    q2.awaitTermination(120)
    assert J.read_table(spark, cfg, "APP.events_wh").count() == n_src

    # replay one committed batch verbatim (same id, same content):
    # delete-then-append must converge to the identical row count
    sink = sp.jdbc_batch_sink(cfg, "events_wh")
    replay = (
        J.read_table(spark, cfg, "APP.events_wh")
        .filter(F.col("__batch_id") == batch_ids[0])
        .drop("__batch_id")
    ).cache()
    assert replay.count() > 0
    sink(replay, batch_ids[0])
    assert J.read_table(spark, cfg, "APP.events_wh").count() == n_src


def test_streaming_quality_screen_equals_batch(spark, tmp_path):
    """The streaming Gopher screen (stateless map-side rules under a
    file source) emits exactly the batch screen's kept set."""
    from pw_etl_scrumptious_squad_spark.operators.text import gopher_quality
    from pw_etl_scrumptious_squad_spark.sources.parquet import read_table

    docs = (
        read_table(spark, SF, "documents")
        .select("doc_id", "text")
        .localCheckpoint()
    )
    src = tmp_path / "docs_stream"
    src.mkdir()
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"arrival={i}.parquet"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/arrival=*.parquet")
    )
    q = sp.streaming_quality_screen(
        stream,
        out_dir=str(tmp_path / "kept"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got = {
        (r["doc_id"], r["n_words"], r["drop_reason"])
        for r in spark.read.parquet(str(tmp_path / "kept")).collect()
    }
    want = {
        (r["doc_id"], r["n_words"], r["drop_reason"])
        for r in gopher_quality(docs).filter(F.col("keep")).collect()
    }
    assert got == want
    assert len(got) > 0


def test_streaming_cardinality_monitor_matches_batch(spark, events_dir):
    """HLL registers maintained as a streaming max-agg, finalized batch-
    side, must equal the batch sketch over the same events — and both
    sit near the exact per-hour distinct-user counts."""
    from pw_etl_scrumptious_squad_spark.operators import curation
    from pw_etl_scrumptious_squad_spark.sources.parquet import read_table

    stream = sp.read_event_stream(spark, events_dir)
    regs = _drain(
        spark, sp.streaming_cardinality_monitor(stream), "card_sink"
    )
    got = {
        r["hour_start"].replace(tzinfo=None): r["hll_estimate"]
        for r in curation.hll_estimate_from_registers(
            regs, ["hour_start"]
        ).collect()
    }
    batch_base = read_table(spark, SF, "events").select(
        F.date_trunc("hour", "ts").alias("hour_start"),
        F.col("user_id").cast("string").alias("uid"),
    )
    want = {
        r["hour_start"].replace(tzinfo=None): r["hll_estimate"]
        for r in curation.hll_distinct(
            batch_base, ["hour_start"], "uid"
        ).collect()
    }
    assert got == want
    exact = {
        r["hour_start"].replace(tzinfo=None): r["n"]
        for r in batch_base.groupBy("hour_start")
        .agg(F.count_distinct("uid").alias("n"))
        .collect()
    }
    for h, est in got.items():
        # sf0.001 hours hold only a handful of users: linear counting
        # at m=256 has ~1-count absolute error there, so bound abs-or-rel
        assert abs(est - exact[h]) < max(3.0, 0.25 * exact[h])


def test_streaming_cardinality_monitor_append_mode(spark, events_dir):
    """The monitor must be a WATERMARK-BOUND agg: grouping by the window
    struct (not a plain extracted timestamp) is what lets Structured
    Streaming evict state and accept an append-mode sink at all. Drain
    in append mode — closed windows (window end <= final watermark) are
    emitted and match the complete-mode registers; only trailing windows
    still inside the 2 h watermark may be withheld."""
    stream = sp.read_event_stream(spark, events_dir)
    appended = _drain(
        spark,
        sp.streaming_cardinality_monitor(stream),
        "card_append_sink",
        mode="append",
    )
    got = {
        (r["hour_start"], r["__bucket"]): r["__r"] for r in appended.collect()
    }
    stream2 = sp.read_event_stream(spark, events_dir)
    full = {
        (r["hour_start"], r["__bucket"]): r["__r"]
        for r in _drain(
            spark,
            sp.streaming_cardinality_monitor(stream2),
            "card_complete_sink",
        ).collect()
    }
    assert got, "append-mode drain emitted no closed windows"
    # every appended register equals its complete-mode twin
    assert all(full[k] == v for k, v in got.items())
    # everything older than (max hour - watermark) was emitted
    import datetime

    max_hour = max(h for h, _ in full)
    closed = {k for k in full if k[0] <= max_hour - datetime.timedelta(hours=3)}
    assert closed <= set(got)


CC_BATCHES = [
    [(1, 2), (2, 3), (10, 11)],
    [(20, 21), (30, 31), (21, 22)],
    [(3, 20), (40, 41)],  # merges the 1-2-3 and 20-21-22 components
]


def _write_cc_batches(spark, src):
    src.mkdir()
    for i, rows in enumerate(CC_BATCHES):
        spark.createDataFrame(rows, "doc_a LONG, doc_b LONG").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / f"arrival={i}.parquet"))
    return (
        spark.readStream.schema("doc_a long, doc_b long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/arrival=*.parquet")
    )


def _batch_cc_labels(spark):
    from pw_etl_scrumptious_squad_spark.operators import dedup

    all_edges = spark.createDataFrame(
        [e for b in CC_BATCHES for e in b], "doc_a LONG, doc_b LONG"
    )
    all_nodes = (
        all_edges.selectExpr("doc_a AS doc_id")
        .union(all_edges.selectExpr("doc_b"))
        .distinct()
    )
    return {
        r["node"]: r["cluster_id"]
        for r in dedup.connected_components(
            all_edges, all_nodes, "doc_id"
        ).collect()
    }


def test_streaming_incremental_cc_equals_batch_global(spark, tmp_path):
    """Round-8 streaming cluster maintenance (round-9 MERGE store):
    three edge micro-batches fold into the persisted label store; batch
    3 contains a CROSS-BATCH merge edge (connects components formed in
    batches 1 and 2). Final store labels == one batch
    connected_components over the union of all delivered edges, AND the
    per-batch write only rewrites the label sub-tables the delta
    touched — untouched sub-tables keep their committed version."""
    stream = _write_cc_batches(spark, tmp_path / "edges")
    labels_dir = str(tmp_path / "labels")
    q = sp.streaming_incremental_cc(
        stream, labels_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    got = {
        r["node"]: r["cluster_id"]
        for r in sp.read_cc_labels(spark, labels_dir).collect()
    }
    want = _batch_cc_labels(spark)
    assert got == want
    assert got[22] == 1 and got[20] == 1  # cross-batch merge landed
    assert got[40] == 40 and got[41] == 40

    # WRITE volume ∝ touched labels: batches 2 and 3 rewrote only the
    # sub-tables their remapped/fresh labels hash into — most of the 16
    # sub-tables were never rewritten after the init batch
    versions = sp.cc_store_versions(labels_dir, spark)
    assert len(versions) == 16
    untouched = [t for t, v in versions.items() if v == 1]
    rewritten = [t for t, v in versions.items() if v > 1]
    assert rewritten  # the folds did commit new versions somewhere
    assert len(untouched) >= 8, versions  # ...but not across the store

    # time travel: the store as of the first marker is batch 1's CC
    from pw_etl_scrumptious_squad_spark.operators import dedup

    b1 = spark.createDataFrame(CC_BATCHES[0], "doc_a LONG, doc_b LONG")
    b1_nodes = (
        b1.selectExpr("doc_a AS doc_id")
        .union(b1.selectExpr("doc_b"))
        .distinct()
    )
    want_b1 = {
        r["node"]: r["cluster_id"]
        for r in dedup.connected_components(b1, b1_nodes, "doc_id").collect()
    }
    got_b1 = {
        r["node"]: r["cluster_id"]
        for r in sp.read_cc_labels(spark, labels_dir, snapshot=1).collect()
    }
    assert got_b1 == want_b1


@pytest.mark.extended  # ~16 s; default tier: the file-scheme store
# tests cover the same publish/commit chain; this re-runs it on a
# viewfs:// Hadoop-FS shim
def test_streaming_incremental_cc_store_on_non_file_scheme(spark, tmp_path):
    """The CC label store's publish/commit chain must run on the Hadoop
    FileSystem API end-to-end (round-8 verdict: no bare os.rename) —
    mount viewfs:// over tmp_path and run the same three-batch fold."""
    from pw_etl_scrumptious_squad_spark.sources.parquet import (
        configure_object_store,
    )

    stream = _write_cc_batches(spark, tmp_path / "edges")
    (tmp_path / "labels").mkdir()
    configure_object_store(
        spark,
        scheme="viewfs",
        extra_conf={
            "fs.viewfs.mounttable.cclake.link./data": f"file:{tmp_path}"
        },
    )
    labels_dir = "viewfs://cclake/data/labels"
    q = sp.streaming_incremental_cc(
        stream, labels_dir, str(tmp_path / "ckpt"), num_parts=4
    )
    q.awaitTermination(180)
    got = {
        r["node"]: r["cluster_id"]
        for r in sp.read_cc_labels(spark, labels_dir).collect()
    }
    assert got == _batch_cc_labels(spark)


def test_streaming_incremental_cc_retention_bounds_store(spark, tmp_path):
    """retain_snapshots: old warehouse markers are retired and unpinned
    sub-table versions vacuumed per batch, so a soak run's store stays
    bounded; the latest snapshot is still complete and correct."""
    import os

    stream = _write_cc_batches(spark, tmp_path / "edges")
    labels_dir = str(tmp_path / "labels")
    q = sp.streaming_incremental_cc(
        stream, labels_dir, str(tmp_path / "ckpt"),
        num_parts=4, retain_snapshots=1,
    )
    q.awaitTermination(180)
    got = {
        r["node"]: r["cluster_id"]
        for r in sp.read_cc_labels(spark, labels_dir).collect()
    }
    assert got == _batch_cc_labels(spark)
    # only the latest warehouse marker survives; each sub-table keeps at
    # most its pinned version + keep_last=1 window (no unbounded growth)
    wdir = os.path.join(labels_dir, "__warehouse__.manifest")
    markers = [n for n in os.listdir(wdir) if n.startswith("v")]
    assert len(markers) == 1
    for i in range(4):
        mdir = os.path.join(labels_dir, f"labels_p{i}.manifest")
        data_dirs = [n for n in os.listdir(mdir) if n.endswith(".data")]
        assert len(data_dirs) <= 2, (i, data_dirs)


HH_BATCHES = [
    # batch 0: "hot" dominates, assorted rare tokens
    [(i, "hot hot hot rare%d filler%d" % (i % 7, i)) for i in range(40)],
    # batch 1: a SECOND hitter emerges ("warm"), more noise
    [(100 + i, "warm warm hot noise%d" % (i % 23)) for i in range(40)],
    # batch 2: pure noise — trims must not evict the real hitters
    [(200 + i, "junk%d junk%d blah%d" % (i, (i * 3) % 31, i % 17))
     for i in range(40)],
    # batch 3: reinforce both hitters
    [(300 + i, "hot warm") for i in range(30)],
]


def _write_hh_batches(spark, src):
    src.mkdir()
    for i, rows in enumerate(HH_BATCHES):
        spark.createDataFrame(rows, "doc_id LONG, text STRING").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / f"arrival={i}.parquet"))
    return (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/arrival=*.parquet")
    )


def test_streaming_heavy_hitters_bounded_state_and_batch_parity(
    spark, tmp_path
):
    """Four text micro-batches fold into a capacity-16 mergeable
    Misra-Gries store (trims forced: each batch's vocabulary alone
    exceeds capacity). Pins: state stays bounded, the true heavy
    hitters are never evicted (candidate superset guarantee), every
    'guaranteed' row really is a heavy hitter, and recounting the
    candidates over the full delivered corpus reproduces the BATCH
    operator exactly — the streaming half of the y82 two-phase
    contract."""
    from pw_etl_scrumptious_squad_spark.operators.text import (
        heavy_hitters_exact,
    )
    from pw_etl_scrumptious_squad_spark.sources import warehouse as W
    from pw_etl_scrumptious_squad_spark.sources.parquet import snapshot_read

    stream = _write_hh_batches(spark, tmp_path / "texts")
    store = str(tmp_path / "hhstore")
    q = sp.streaming_heavy_hitters(
        stream, store, str(tmp_path / "ckpt"), capacity=16
    )
    q.awaitTermination(180)

    # one committed snapshot per non-empty batch; bounded summary
    assert W.warehouse_version(store, spark) == len(HH_BATCHES)
    pinned = W.warehouse_snapshot_tables(store, None, spark)
    assert snapshot_read(spark, store, "mg", version=pinned["mg"]).count() <= 16

    denom = 10  # capacity + 1 = 17 > denom -> superset guarantee holds
    hh = sp.read_heavy_hitters(spark, store, denom=denom)
    rows = {r["token"]: r for r in hh.collect()}

    full = spark.createDataFrame(
        [r for b in HH_BATCHES for r in b], "doc_id LONG, text STRING"
    )
    want = {
        r["token"]: r["n_occurrences"]
        for r in heavy_hitters_exact(full, denom=denom, capacity=64).collect()
    }
    assert want, "fixture must produce real heavy hitters"
    # superset: every true heavy hitter is a candidate, bounds bracket it
    for tok, n in want.items():
        assert tok in rows, (tok, rows.keys())
        assert rows[tok]["cnt_min"] <= n <= rows[tok]["cnt_max"]
    # soundness: 'guaranteed' rows are true heavy hitters
    for tok, r in rows.items():
        if r["guaranteed"]:
            assert tok in want
    # the two-phase contract: exact recount of the candidate set over
    # the delivered corpus == the batch operator's answer
    from pyspark.sql import functions as F

    cands = hh.select("token")
    toks = full.select(
        F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    thr = rows[next(iter(rows))]["threshold"]
    recount = {
        r["token"]: r["n"]
        for r in toks.join(F.broadcast(cands), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .filter(F.col("n") >= thr)
        .collect()
    }
    assert recount == want

    # time travel: the snapshot after batch 0 knows only batch 0's total
    b0_total = sum(
        len([t for t in txt.split(" ") if t]) for _, txt in HH_BATCHES[0]
    )
    meta0 = snapshot_read(
        spark, store, "meta",
        version=W.warehouse_snapshot_tables(store, 1, spark)["meta"],
    ).first()
    assert int(meta0["total"]) == b0_total


def test_streaming_heavy_hitters_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a batch replayed after its
    warehouse marker committed (crash between the store commit and the
    streaming checkpoint commit) must NOT re-merge its counts. The meta
    snapshot's last_bid keys the commit: replaying every batch from a
    FRESH checkpoint (ids restart at 0, all <= stored last_bid) leaves
    the store byte-identical — totals, decrements, and counters."""
    from pw_etl_scrumptious_squad_spark.sources import warehouse as W
    from pw_etl_scrumptious_squad_spark.sources.parquet import snapshot_read

    stream = _write_hh_batches(spark, tmp_path / "texts")
    store = str(tmp_path / "hhstore")
    q = sp.streaming_heavy_hitters(
        stream, store, str(tmp_path / "ckpt"), capacity=16
    )
    q.awaitTermination(180)

    def _state():
        pinned = W.warehouse_snapshot_tables(store, None, spark)
        meta = snapshot_read(
            spark, store, "meta", version=pinned["meta"]
        ).first()
        mg = sorted(
            map(
                tuple,
                snapshot_read(
                    spark, store, "mg", version=pinned["mg"]
                ).collect(),
            )
        )
        return (
            W.warehouse_version(store, spark),
            int(meta["total"]),
            int(meta["dec"]),
            int(meta["last_bid"]),
            mg,
        )

    before = _state()
    assert before[3] == len(HH_BATCHES) - 1  # last applied batch id

    # replay: same source, same store, NEW checkpoint -> every batch is
    # redelivered with batch_id 0..3, all <= last_bid
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "texts") + "/arrival=*.parquet")
    )
    q2 = sp.streaming_heavy_hitters(
        stream2, store, str(tmp_path / "ckpt2"), capacity=16
    )
    q2.awaitTermination(180)
    assert _state() == before


def _sketch_batch_fn(spark, streaming_store, store, **kw):
    """The foreachBatch function a sketch store runs, built without
    starting a streaming query: tests drive it on static frames with
    explicit batch ids."""
    built = []
    with pytest.MonkeyPatch.context() as m:
        m.setattr(
            sp, "run_foreach_batch", lambda df, ckpt, fn, **_: built.append(fn)
        )
        streaming_store(spark.range(0), store, "no-checkpoint", **kw)
    return built[0]


def test_sketch_store_folds_a_meta_without_last_bid(spark, tmp_path):
    """A store from before round 10 has a meta without ``last_bid``: the
    next batch must fold whatever its id (no replay guard to apply),
    carry the cumulative ``total`` and ``dec`` on, and record
    ``last_bid`` from then on."""
    from pw_etl_scrumptious_squad_spark.sources import warehouse as W
    from pw_etl_scrumptious_squad_spark.sources.parquet import (
        snapshot_read,
        write_table_snapshot,
    )

    store = str(tmp_path / "hhstore")
    # the capacity-2 summary of "a a a b c": the trim took 1 off each
    # counter, leaving {a: 2} with D = 1
    W.commit_warehouse_snapshot(
        store,
        {
            "mg": write_table_snapshot(
                spark.createDataFrame([("a", 2)], "token STRING, cnt BIGINT"),
                store,
                "mg",
            ),
            "meta": write_table_snapshot(
                spark.createDataFrame([(5, 1)], "total BIGINT, dec BIGINT"),
                store,
                "meta",
            ),
        },
        spark,
    )
    fold = _sketch_batch_fn(
        spark, sp.streaming_heavy_hitters, store, capacity=2
    )
    fold(spark.createDataFrame([("a b b",)], "text STRING"), 0)

    pinned = W.warehouse_snapshot_tables(store, None, spark)
    meta = snapshot_read(spark, store, "meta", version=pinned["meta"])
    assert meta.columns == ["total", "dec", "last_bid"]
    assert tuple(meta.first()) == (8, 1, 0)
    mg = snapshot_read(spark, store, "mg", version=pinned["mg"])
    assert sorted(map(tuple, mg.collect())) == [("a", 3), ("b", 2)]


def test_sketch_store_failed_commit_is_invisible_and_retried_once(
    spark, tmp_path
):
    """A batch whose warehouse commit raises has published table
    versions but no marker: readers stay on the previous snapshot, and
    the retried batch commits once."""
    from pw_etl_scrumptious_squad_spark.sources import warehouse as W

    store = str(tmp_path / "cmsstore")
    # wide enough that x, y and z share no counter: estimates are exact
    fold = _sketch_batch_fn(
        spark, sp.streaming_cms, store, depth=2, width=1024
    )

    def items(*xs):
        return spark.createDataFrame([(x,) for x in xs], "item STRING")

    fold(items("x", "x", "x", "y"), 0)
    after_b0 = W.warehouse_snapshot_tables(store, None, spark)

    def lost_commit(*args, **kw):
        raise OSError("warehouse marker not written")

    with pytest.MonkeyPatch.context() as m:
        m.setattr(W, "commit_warehouse_snapshot", lost_commit)
        with pytest.raises(OSError):
            fold(items("x", "z", "z"), 1)
    assert W.warehouse_version(store, spark) == 1
    # readers resolve through the marker, which still pins batch 0
    assert W.warehouse_snapshot_tables(store, None, spark) == after_b0

    fold(items("x", "z", "z"), 1)
    assert W.warehouse_version(store, spark) == 2
    got = sp.read_cms_estimates(spark, store, items("x", "y", "z"))
    assert sorted(map(tuple, got.collect())) == [
        ("x", 4), ("y", 1), ("z", 2)
    ]


@pytest.mark.extended  # ~16 s; default tier: the file-scheme retention
# test covers the same bound; this re-runs it on viewfs://
def test_streaming_cc_retention_on_non_file_scheme(spark, tmp_path):
    """Round-9 verdict item 2: store retention must be scheme-agnostic.
    Run the three-batch CC fold against a viewfs:// store WITH
    retain_snapshots — per-batch retention has to bound the store
    (markers + data dirs) through the Hadoop FileSystem chain, and the
    final labels must still equal the batch fold."""
    import os

    from pw_etl_scrumptious_squad_spark.sources.parquet import (
        configure_object_store,
    )

    stream = _write_cc_batches(spark, tmp_path / "edges")
    (tmp_path / "labels").mkdir()
    configure_object_store(
        spark,
        scheme="viewfs",
        extra_conf={
            "fs.viewfs.mounttable.ccret.link./data": f"file:{tmp_path}"
        },
    )
    labels_dir = "viewfs://ccret/data/labels"
    q = sp.streaming_incremental_cc(
        stream, labels_dir, str(tmp_path / "ckpt"),
        num_parts=4, retain_snapshots=1,
    )
    q.awaitTermination(180)
    got = {
        r["node"]: r["cluster_id"]
        for r in sp.read_cc_labels(spark, labels_dir).collect()
    }
    assert got == _batch_cc_labels(spark)
    # bound enforced THROUGH the scheme: inspect the local backing dir
    # the viewfs mount points at — one surviving warehouse marker, each
    # sub-table at most pinned + keep_last=1 data dirs
    backing = tmp_path / "labels"
    wdir = backing / "__warehouse__.manifest"
    markers = [n for n in os.listdir(wdir) if n.startswith("v")]
    assert len(markers) == 1, markers
    for i in range(4):
        mdir = backing / f"labels_p{i}.manifest"
        data_dirs = [n for n in os.listdir(mdir) if n.endswith(".data")]
        assert len(data_dirs) <= 2, (i, data_dirs)


def test_streaming_quantile_sketch_equals_batch_and_is_idempotent(
    spark, tmp_path
):
    """The sketch is exactly mergeable, so the streaming store after N
    micro-batches must equal the BATCH sketch over everything delivered
    bit-for-bit (not just within error); replaying all batches from a
    fresh checkpoint must leave the store untouched (last_bid guard);
    state stays under the bucket-universe bound."""
    import random

    from pw_etl_scrumptious_squad_spark.operators.stats import (
        quantile_sketch,
        sketch_quantiles,
    )
    from pw_etl_scrumptious_squad_spark.sources import warehouse as W
    from pw_etl_scrumptious_squad_spark.sources.parquet import snapshot_read

    rng = random.Random(13)
    batches = [
        [(i, rng.randrange(-(10**9), 10**12)) for i in range(400)]
        for _ in range(4)
    ]
    src = tmp_path / "vals"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "id LONG, value LONG").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / f"arrival={i}.parquet"))

    def stream():
        return (
            spark.readStream.schema("id long, value long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/arrival=*.parquet")
        )

    store = str(tmp_path / "skstore")
    q = sp.streaming_quantile_sketch(
        stream(), store, str(tmp_path / "ckpt"), value_col="value"
    )
    q.awaitTermination(180)

    full = spark.createDataFrame(
        [r for b in batches for r in b], "id LONG, value LONG"
    )
    want_sketch = sorted(
        map(tuple, quantile_sketch(full, "value").collect())
    )
    pinned = W.warehouse_snapshot_tables(store, None, spark)
    got_sketch = sorted(
        map(
            tuple,
            snapshot_read(
                spark, store, "sketch", version=pinned["sketch"]
            ).collect(),
        )
    )
    assert got_sketch == want_sketch
    assert len(got_sketch) < 64 * 2**7  # bounded state

    got_q = sorted(
        map(tuple, sp.read_sketch_quantiles(spark, store).collect())
    )
    want_q = sorted(
        map(
            tuple,
            sketch_quantiles(quantile_sketch(full, "value")).collect(),
        )
    )
    assert got_q == want_q

    # replay from a fresh checkpoint: every batch_id <= stored last_bid
    before_version = W.warehouse_version(store, spark)
    q2 = sp.streaming_quantile_sketch(
        stream(), store, str(tmp_path / "ckpt2"), value_col="value"
    )
    q2.awaitTermination(180)
    assert W.warehouse_version(store, spark) == before_version
    got2 = sorted(
        map(
            tuple,
            snapshot_read(
                spark, store, "sketch",
                version=W.warehouse_snapshot_tables(store, None, spark)["sketch"],
            ).collect(),
        )
    )
    assert got2 == want_sketch
