"""Streaming throughput bench.

Round 7 recorded only a 10x500-row micro-batch point (242 rows/s) for
``streaming_incremental_dedup`` — trigger-overhead-dominated, says
nothing about sustained rate (round-7 verdict "What's wrong" #2). Round
8 records FOUR points under a ``"streaming"`` key in BENCH_scale.json:

1. ``micro_batch``    — the original 10-file x ~500-row arrival pattern
                        (per-trigger overhead floor, kept for
                        continuity);
2. ``large_batch``    — the SAME operator over a ~100k-row corpus
                        (sf0.1 documents x20, disjoint-vocabulary copies
                        via tools/gen_scale) in ONE trigger: the
                        state-heavy sustained rate;
3. ``batch_equivalent`` — ``minhash_lsh_dedup`` (the batch twin, same
                        num_perm/bands/threshold) over the same 100k
                        corpus: the number the large-batch rate is
                        graded against (verdict target: within ~2x);
4. ``stream_to_jdbc_rate`` — a RATE-source sustained run into a live
                        embedded-Derby warehouse through the
                        exactly-once foreachBatch sink.

Usage: ``python tools/bench_stream.py [--batches 10] [--copies 20]
[--rate-rps 20000] [--rate-secs 20] [--out BENCH_scale.json]``
(sf dir from $SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1).
The points are merged into the ``streaming`` section through
tools/harness.py's ``update_json_section``; every other section of the
file is left as it was, and a missing file is created.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pw_etl_scrumptious_squad_spark.session import get_spark  # noqa: E402
from pw_etl_scrumptious_squad_spark.sources.parquet import read_table  # noqa: E402
from pw_etl_scrumptious_squad_spark.streaming import pipeline as sp  # noqa: E402
from tools.harness import load_json, update_json_section  # noqa: E402


def _du(path: str) -> int:
    total = 0
    for dp, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dp, f))
    return total


def _run_dedup_stream(spark, src: str, work: str, tag: str, **kw) -> dict:
    store_dir = os.path.join(work, f"store_{tag}")
    pairs_dir = os.path.join(work, f"pairs_{tag}")
    stream = spark.readStream.schema("doc_id long, text string")
    if kw.pop("one_file_per_trigger", False):
        stream = stream.option("maxFilesPerTrigger", 1)
    stream = stream.parquet(src + "/arrival=*.parquet")
    start = time.perf_counter()
    q = sp.streaming_incremental_dedup(
        stream,
        store_dir=store_dir,
        pairs_dir=pairs_dir,
        checkpoint_dir=os.path.join(work, f"ckpt_{tag}"),
        num_perm=16,
        bands=8,
        threshold=0.5,
    )
    q.awaitTermination()
    wall = time.perf_counter() - start
    n_pairs = spark.read.parquet(pairs_dir).count()
    store_rows = spark.read.parquet(store_dir).count()
    return {
        "wall_sec": round(wall, 3),
        "rows": store_rows,
        "rows_per_sec": round(store_rows / wall, 1),
        "pairs_emitted": n_pairs,
        "state_store_rows": store_rows,
        "state_store_bytes": _du(store_dir),
    }


def main() -> None:
    args = sys.argv[1:]

    def opt(name: str, default: int) -> int:
        return int(args[args.index(name) + 1]) if name in args else default

    n_batches = opt("--batches", 10)
    copies = opt("--copies", 20)
    rate_rps = opt("--rate-rps", 20000)
    rate_secs = opt("--rate-secs", 20)
    out_path = (
        args[args.index("--out") + 1] if "--out" in args else "BENCH_scale.json"
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    prior = load_json(out_path).get("streaming", {})

    spark = get_spark(app_name="bench-stream")
    spark.sparkContext.setLogLevel("ERROR")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_rows = docs.count()
    streaming: dict = {}

    work = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        # ---- point 1: micro-batch arrival pattern (continuity) ----
        src_micro = os.path.join(work, "arrivals_micro")
        for i in range(n_batches):
            docs.filter(F.col("doc_id") % n_batches == i).coalesce(
                1
            ).write.mode("overwrite").parquet(
                os.path.join(src_micro, f"arrival={i}.parquet")
            )
        rec = _run_dedup_stream(
            spark, src_micro, work, "micro", one_file_per_trigger=True
        )
        rec.update({"sf_dir": sf_dir, "batches": n_batches, "rows": n_rows,
                    "rows_per_sec": round(n_rows / rec["wall_sec"], 1)})
        streaming["stream_incremental_dedup"] = rec

        # ---- build the ~100k-row corpus (disjoint-vocabulary copies:
        # realistic near-dup geometry, no artificial pair blow-up) ----
        from tools.gen_scale import _copies, scale_documents

        full = read_table(spark, sf_dir, "documents")
        big = scale_documents(full, _copies(spark, copies)).select(
            "doc_id", "text"
        )
        src_big = os.path.join(work, "arrivals_big")
        big.write.mode("overwrite").parquet(
            os.path.join(src_big, "arrival=0.parquet")
        )
        n_big = spark.read.parquet(src_big).count()

        # ---- point 2: one large trigger through the streaming op ----
        rec_big = _run_dedup_stream(spark, src_big, work, "big")
        rec_big.update({"rows": n_big,
                        "rows_per_sec": round(n_big / rec_big["wall_sec"], 1)})
        streaming["stream_incremental_dedup_large_batch"] = rec_big

        # ---- point 3: the batch twin over the same corpus ----
        from pw_etl_scrumptious_squad_spark.operators import dedup

        big_docs = spark.read.parquet(src_big + "/arrival=0.parquet")
        t0 = time.perf_counter()
        n_batch_pairs = dedup.minhash_lsh_dedup(
            big_docs, "doc_id", num_perm=16, bands=8, threshold=0.5
        ).count()
        wall_b = time.perf_counter() - t0
        streaming["batch_equivalent_lsh_dedup"] = {
            "rows": n_big,
            "wall_sec": round(wall_b, 3),
            "rows_per_sec": round(n_big / wall_b, 1),
            "pairs_emitted": n_batch_pairs,
        }
        streaming["large_batch_vs_batch_ratio"] = round(
            rec_big["wall_sec"] / wall_b, 3
        )

        # ---- point 3b (round 10): streaming quantile sketch fold ----
        # 10 micro-batches of events values through the bounded-state
        # sketch store; cost per trigger is the bucket hash-agg + two
        # snapshot publishes + one marker, independent of history size
        ev = read_table(spark, sf_dir, "events").select(
            "event_id", F.round(F.col("value") * 100).cast("bigint").alias("v")
        )
        n_ev = ev.count()
        src_sk = os.path.join(work, "arrivals_sketch")
        for i in range(n_batches):
            ev.filter(F.col("event_id") % n_batches == i).coalesce(
                1
            ).write.mode("overwrite").parquet(
                os.path.join(src_sk, f"arrival={i}.parquet")
            )
        stream_sk = (
            spark.readStream.schema("event_id long, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_sk + "/arrival=*.parquet")
        )
        store_sk = os.path.join(work, "sk_store")
        t0 = time.perf_counter()
        q = sp.streaming_quantile_sketch(
            stream_sk, store_sk, os.path.join(work, "ckpt_sk"), value_col="v"
        )
        q.awaitTermination(600)
        wall_sk = time.perf_counter() - t0
        from pw_etl_scrumptious_squad_spark.sources.parquet import (
            snapshot_read as _snap,
        )
        from pw_etl_scrumptious_squad_spark.sources import warehouse as _W

        sk_rows = _snap(
            spark, store_sk, "sketch",
            version=_W.warehouse_snapshot_tables(store_sk, None, spark)["sketch"],
        ).count()
        streaming["stream_quantile_sketch"] = {
            "rows": n_ev,
            "batches": n_batches,
            "wall_sec": round(wall_sk, 3),
            "rows_per_sec": round(n_ev / wall_sk, 1),
            "state_store_rows": sk_rows,
        }

        # ---- point 3c (round-10 continuation): streaming Count-Min
        # fold — token occurrences through the depth*width-bounded
        # counter store; per trigger one counter hash-agg + two
        # snapshot publishes + one marker, independent of history
        from pw_etl_scrumptious_squad_spark.operators import (
            sketches as SK,  # noqa: F401  (parity read below)
        )

        toks = docs.select(
            F.col("doc_id"),
            F.explode(F.split("text", " ")).alias("item"),
        ).filter(F.col("item") != "")
        n_tok = toks.count()
        src_cms = os.path.join(work, "arrivals_cms")
        for i in range(n_batches):
            toks.filter(F.col("doc_id") % n_batches == i).select(
                "item"
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(src_cms, f"arrival={i}.parquet")
            )
        stream_cms = (
            spark.readStream.schema("item string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_cms + "/arrival=*.parquet")
        )
        store_cms = os.path.join(work, "cms_store")
        t0 = time.perf_counter()
        q = sp.streaming_cms(
            stream_cms, store_cms, os.path.join(work, "ckpt_cms"),
            depth=4, width=4096,
        )
        q.awaitTermination(600)
        wall_cms = time.perf_counter() - t0
        cms_rows = _snap(
            spark, store_cms, "sketch",
            version=_W.warehouse_snapshot_tables(store_cms, None, spark)[
                "sketch"
            ],
        ).count()
        streaming["stream_cms"] = {
            "rows": n_tok,
            "batches": n_batches,
            "wall_sec": round(wall_cms, 3),
            "rows_per_sec": round(n_tok / wall_cms, 1),
            "state_store_rows": cms_rows,
        }

        # ---- point 4: rate-source sustained stream_to_jdbc ----
        from pw_etl_scrumptious_squad_spark.sources import jdbc as J

        cfg = J.JdbcConfig(
            url=f"jdbc:derby:{work}/rate_wh;create=true",
            user="app",
            password="",
            driver="org.apache.derby.jdbc.EmbeddedDriver",
            schema="APP",
            discover_sql=J.DISCOVER_TABLES_SQL_DERBY,
        )
        rate = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", rate_rps)
            .option("numPartitions", 8)
            .load()
            .select(
                F.col("value").alias("event_id"),
                F.col("timestamp").alias("ts"),
                (F.col("value") % 1000).cast("int").alias("amount"),
            )
        )
        t0 = time.perf_counter()
        q = sp.stream_to_jdbc(
            rate,
            os.path.join(work, "ckpt_rate"),
            cfg,
            "rate_wh",
            batch_size=1000,
            processing_time="2 seconds",
        )
        time.sleep(rate_secs)
        q.stop()
        q.awaitTermination()
        wall_r = time.perf_counter() - t0
        n_landed = J.read_table(spark, cfg, "APP.rate_wh").count()
        streaming["stream_to_jdbc_rate"] = {
            "offered_rows_per_sec": rate_rps,
            "run_secs": rate_secs,
            "wall_sec": round(wall_r, 3),
            "rows_landed": n_landed,
            "rows_per_sec": round(n_landed / wall_r, 1),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)

    update_json_section(out_path, "streaming", {**prior, **streaming})
    print(json.dumps({"streaming": streaming}))


if __name__ == "__main__":
    main()
