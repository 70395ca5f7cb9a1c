"""Benchmark of the PySpark Totesys ETL engine and its query catalog.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each exists):

* ``catalog_iterative``: one op builds a catalog entry whose ``build()``
  runs an eager Spark loop, then runs the result into the noop sink;
* ``etl_cycles``: one op is one incremental ``plans.etl.run_batch_etl``
  cycle after a seeded source mutation.

One process, one SparkSession on ``local[<cores>]``, one closed-loop client
sending operations one after another. The seed fixes the generated input
tables, the query order and the ETL mutations. Every output is checked
(DuckDB oracles, staging/watermark/fact-key checks) outside the timed
region - for the catalog, the warm-up build and the last timed build of
each entry; a failed check counts the op as failed.

Operations run until their summed time reaches ``--seconds``; catalog
runs always finish the current pass over their entries, so every run
measures the same mix. End-to-end metrics (``--trace 0``):

* ``setup_s``: writing the seeded inputs + the session bring-up
  (``get_spark``, which launches the JVM, plus a first job) + preparation
  (catalog: oracle hashes, the checked warm-up build and unchecked
  warm-up ops; ETL: fixture write, the initial full-load cycle and its
  check);
* ``op_p50_s``: median op latency;
* ``throughput_ops_per_s``: ops completed per second of op time.

The tail latency (``op_tail_s``: the highest percentile at or above the
median with at least ten samples beyond it, else the maximum) is in the
run record with its percentile and sample count, and in the traced run
as ``trace.op_tail_s``; a run has too few ops for it to be steady.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` - the end-to-end metrics with ``--trace 0`` and
the per-layer metrics of ``layers.py`` with ``--trace 1``. A fuller run record (host load,
versions, failing ops, latency percentiles) goes to stderr and, with the
span dump of a traced run, to ``.perfbench_out/``. All files the run
writes stay under the repository root and the scratch data is removed at
exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
PACKAGE = "pw_etl_scrumptious_squad_spark"


def _configure_environment() -> int:
    """Point every temporary file of Spark, the JVM and Python workers into
    the scratch directory, and make the package importable by workers."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_TMP"] = tmp
    os.environ["TMPDIR"] = tmp
    # the JVM that spark-submit starts first to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path[:0] = [ROOT, HERE]
    return cores


def _spark_conf(traced: bool) -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if traced:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _make_workload(name: str, entries: list[str] | None, corrupt: str | None):
    import workloads as wl

    if name == "catalog_iterative":
        return wl.CatalogWorkload(entries or wl.ITERATIVE, sf=0.001, corrupt=corrupt)
    if name == "etl_cycles":
        return wl.EtlWorkload(
            sf=0.001, order_days=3, ship_days=3, inserts=20, bumps=20,
            corrupt=corrupt == "etl",
        )
    raise SystemExit(f"unknown workload {name!r}")


def _start_session(conf):
    """Launch the JVM and the session, and run a first job on it; returns
    the session and the time that took."""
    from pw_etl_scrumptious_squad_spark.session import get_spark

    start = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(spark.sparkContext.defaultParallelism).count()
    return spark, time.perf_counter() - start


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _fs_type(path: str) -> str:
    best, kind = "", "unknown"
    with open("/proc/mounts") as fh:
        for line in fh:
            parts = line.split()
            if len(parts) > 2 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                best, kind = parts[1], parts[2]
    return kind


def _source_digest() -> str:
    """Content hash of the program's Python sources: the commit stand-in,
    since the benchmark may run outside a git checkout."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as fh:
                    h.update(name.encode() + fh.read())
    return h.hexdigest()[:16]


def _commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return "unknown"


def main(argv: list[str] | None = None) -> int:
    try:
        return _main(argv)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


def _main(argv: list[str] | None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--entries", help="comma-separated catalog entries (self-check)")
    ap.add_argument("--corrupt", help="tamper one checked result (self-check)")
    args = ap.parse_args(argv)

    shutil.rmtree(WORK, ignore_errors=True)
    cores = _configure_environment()
    try:
        import pyspark

        import layers
        import tools.check  # noqa: F401  (the oracle hash the checks share)
        import workloads
        from spans import Tracer
        __import__(PACKAGE)
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2

    traced = bool(args.trace)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    load_start = os.getloadavg()
    workload = _make_workload(
        args.workload, args.entries.split(",") if args.entries else None, args.corrupt
    )
    t0 = time.perf_counter()
    workload.write_inputs(WORK, args.seed)
    inputs_s = time.perf_counter() - t0

    conf = _spark_conf(traced)
    spark = None
    try:
        spark, session_s = _start_session(conf)
        tracer = Tracer(run_id)
        if traced:
            tracer.install()
        harness = workloads.Harness(spark, tracer, traced, f"perfbench-{os.getpid()}")
        t0 = time.perf_counter()
        prep = workload.prepare(harness)
        prep_s = time.perf_counter() - t0

        tracer.enabled = traced
        ops = workload.run(harness, args.seed, args.seconds)
        tracer.enabled = False
        load_end = os.getloadavg()
        rss_mb = _jvm_peak_rss_mb(spark)
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            _stop(spark)

    latencies = [op.seconds for op in ops]
    failed = [op for op in ops if not op.ok]
    tail, tail_pct = layers.tail(latencies)
    setup_s = inputs_s + session_s + prep_s
    record = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "master": f"local[{cores}]",
        "pyspark": pyspark.__version__,
        "commit": _commit(),
        "source_digest": _source_digest(),
        "lake_fs": _fs_type(WORK),
        "load_avg_start": load_start,
        "load_avg_end": load_end,
        "session_s": session_s,
        "inputs_s": inputs_s,
        "prepare": prep,
        "ops": len(ops),
        "failed_ratio": len(failed) / len(ops),
        "failed_ops": sorted({f"{op.label}: {op.error}" for op in failed}),
        "check_errors": workload.check_errors,
        "op_p50_s": statistics.median(latencies),
        "op_tail_s": tail,
        "op_tail_percentile": tail_pct,
        "op_samples": len(latencies),
        "jvm_peak_rss_mb": rss_mb,
        "op_latencies_s": {op.label: [] for op in ops},
    }
    for op in ops:
        record["op_latencies_s"][op.label].append(round(op.seconds, 4))

    if traced:
        metrics = layers.per_layer(
            tracer, ops, prep, session_s, rss_mb, cores,
            os.path.join(WORK, "eventlog", app_id), harness.group_prefix,
        )
        record["trace_missing_hooks"] = tracer.missing
        record["per_layer_moves"] = {name: layers.moves(name) for name in metrics}
        os.makedirs(OUT, exist_ok=True)
        tracer.dump(os.path.join(OUT, f"spans-{args.workload}.jsonl"))
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_s": {"value": record["op_p50_s"], "unit": "s"},
            "throughput_ops_per_s": {"value": len(ops) / sum(latencies), "unit": "ops/s"},
        }
    record["metrics"] = metrics
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"record-{args.workload}-t{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps(record, default=str), file=sys.stderr)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
