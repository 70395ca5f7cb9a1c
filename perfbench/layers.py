"""Per-layer metrics of a traced run, from its spans and Spark event log.

Every time and count is a mean per timed operation (unit ``.../op``)
unless its unit says otherwise. Layer times are self times, which
partition each operation: they plus ``trace.unattributed_s`` (time inside
an op span but outside every layer span) add up to the op's duration.
The ETL phase times ``plans.etl.{extract,transform,load}_s`` are the
exception: they include the layers each phase calls.
"""

from __future__ import annotations

import statistics

import spans as sp

# ops a tail percentile needs beyond it
TAIL_BEYOND = 10

# span name -> per-layer metric holding that span's self time
SELF_TIME = {
    "plans.etl.extract": "plans.etl.self_s",
    "plans.etl.transform": "plans.etl.self_s",
    "plans.etl.load": "plans.etl.self_s",
    "plans.etl.run_batch_etl": "plans.etl.self_s",
    "sources.parquet.write_table": "sources.parquet.write_table_s",
    "sources.parquet.read_table": "sources.parquet.read_table_s",
    "sources.state.store": "sources.state.store_s",
    "operators.cdc.incremental_extract": "operators.cdc.incremental_extract_s",
    "operators.dims": "operators.dims_facts_s",
    "operators.facts": "operators.dims_facts_s",
    "catalog.build": "catalog.build_s",
    "catalog.action": "catalog.action_s",
    "op": "trace.unattributed_s",
}
# the ETL phases partition a cycle, so they are reported inclusive of the
# layers they call
PHASE_TIME = {
    "plans.etl.extract": "plans.etl.extract_s",
    "plans.etl.transform": "plans.etl.transform_s",
    "plans.etl.load": "plans.etl.load_s",
}
CALLS = {
    "sources.parquet.write_table": "sources.parquet.write_table_calls",
    "sources.parquet.read_table": "sources.parquet.read_table_calls",
    "sources.state.store": "sources.state.store_calls",
}
JOBS_UNDER = {
    "plans.etl.extract": "plans.etl.extract_jobs",
    "plans.etl.load": "plans.etl.load_jobs",
    "catalog.build": "catalog.build_jobs",
    "catalog.action": "catalog.action_jobs",
}

# per-layer metric -> (end-to-end metric it should move, on which workload)
MOVES = {
    "plans.etl.": ("op_p50_s", "etl_cycles"),
    "plans.etl.initial_cycle_s": ("setup_s", "etl_cycles"),
    "sources.parquet.write_table": ("op_p50_s", "etl_cycles"),
    "sources.parquet.files_written": ("op_p50_s", "etl_cycles"),
    "sources.parquet.bytes_written": ("op_p50_s", "etl_cycles"),
    "sources.parquet.read_table": ("op_p50_s", "etl_cycles and catalog_iterative"),
    "sources.parquet.plan_memo_hit_ratio": ("op_p50_s", "etl_cycles and catalog_iterative"),
    "sources.state.": ("op_p50_s", "etl_cycles"),
    "operators.": ("op_p50_s", "etl_cycles"),
    "catalog.build": ("throughput_ops_per_s", "catalog_iterative"),
    "catalog.action": ("op_p50_s", "catalog_iterative"),
    "session.": ("setup_s", "etl_cycles and catalog_iterative"),
    "session.jvm_peak_rss_mb": ("none: memory, kept beside setup_s", "both"),
    "spark.": ("op_p50_s", "etl_cycles and catalog_iterative"),
    "trace.": ("none: accounting of the trace itself", "both"),
    "failed_ratio": ("none: correctness", "both"),
}


def moves(metric: str) -> tuple[str, str]:
    """The end-to-end metric and workload a per-layer metric should move
    (longest matching prefix of MOVES)."""
    key = max((k for k in MOVES if metric.startswith(k)), key=len)
    return MOVES[key]


# every per-layer metric the traced run prints, with its unit
UNITS = {
    "plans.etl.extract_s": "s/op",
    "plans.etl.transform_s": "s/op",
    "plans.etl.load_s": "s/op",
    "plans.etl.self_s": "s/op",
    "plans.etl.extract_jobs": "count/op",
    "plans.etl.load_jobs": "count/op",
    "plans.etl.write_amplification": "ratio",
    "plans.etl.initial_cycle_s": "s",
    "plans.etl.incremental_cycle_s": "s",
    "sources.parquet.write_table_calls": "count/op",
    "sources.parquet.write_table_s": "s/op",
    "sources.parquet.files_written": "count/op",
    "sources.parquet.bytes_written": "bytes/op",
    "sources.parquet.read_table_calls": "count/op",
    "sources.parquet.read_table_s": "s/op",
    "sources.parquet.plan_memo_hit_ratio": "ratio",
    "sources.state.store_calls": "count/op",
    "sources.state.store_s": "s/op",
    "operators.cdc.incremental_extract_s": "s/op",
    "operators.dims_facts_s": "s/op",
    "catalog.build_s": "s/op",
    "catalog.build_jobs": "count/op",
    "catalog.build_py4j_calls": "count/op",
    "catalog.action_s": "s/op",
    "catalog.action_jobs": "count/op",
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "spark.jobs": "count/op",
    "spark.stages": "count/op",
    "spark.tasks": "count/op",
    "spark.executor_run_s": "s/op",
    "spark.executor_cpu_s": "s/op",
    "spark.gc_s": "s/op",
    "spark.shuffle_read_bytes": "bytes/op",
    "spark.shuffle_write_bytes": "bytes/op",
    "spark.spill_bytes": "bytes/op",
    "spark.core_busy_ratio": "ratio",
    "spark.jobs_attributed_by_time": "count/op",
    "trace.unattributed_s": "s/op",
    "trace.accounted_ratio": "ratio",
    "trace.op_p50_s": "s",
    "trace.op_tail_s": "s",
    "failed_ratio": "ratio",
}


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile at or above the median with at least
    TAIL_BEYOND samples beyond it, as (value, percentile); the maximum when
    the run has too few samples for one."""
    ordered = sorted(values)
    n = len(ordered)
    k = n - TAIL_BEYOND - 1
    if k < (n - 1) / 2:
        return ordered[-1], 100.0
    return ordered[k], 100.0 * (k + 1) / n


def per_layer(
    tracer: sp.Tracer,
    ops: list,
    prep: dict,
    session_s: float,
    jvm_peak_rss_mb: float,
    cores: int,
    event_log: str,
    group_prefix: str,
) -> dict[str, dict]:
    jobs = sp.read_event_log(event_log)
    sp.attribute_jobs(tracer, jobs, group_prefix)
    totals = dict.fromkeys(UNITS, 0.0)
    memo_hits = memo_misses = 0
    op_time = 0.0
    rows_written = rows_changed = 0
    for op in ops:
        op_time += op.seconds
        for name, own in tracer.self_times(op.span).items():
            totals[SELF_TIME[name]] += own
        for idx in tracer.subtree(op.span):
            span = tracer.spans[idx]
            if span.name in PHASE_TIME:
                totals[PHASE_TIME[span.name]] += span.duration
            if span.name in CALLS:
                totals[CALLS[span.name]] += 1
            if span.name in JOBS_UNDER:
                totals[JOBS_UNDER[span.name]] += sum(
                    len(tracer.spans[i].jobs) for i in tracer.subtree(idx)
                )
            if span.name == "catalog.build":
                totals["catalog.build_py4j_calls"] += span.py4j
            memo_hits += span.memo_hits
            memo_misses += span.memo_misses
            for job_id in span.jobs:
                job = jobs[job_id]
                totals["spark.jobs"] += 1
                totals["spark.stages"] += len(job.stages)
                totals["spark.tasks"] += job.tasks
                totals["spark.executor_run_s"] += job.run_s
                totals["spark.executor_cpu_s"] += job.cpu_s
                totals["spark.gc_s"] += job.gc_s
                totals["spark.shuffle_read_bytes"] += job.shuffle_read
                totals["spark.shuffle_write_bytes"] += job.shuffle_write
                totals["spark.spill_bytes"] += job.spill
                if not (job.group or "").startswith(group_prefix + ":"):
                    totals["spark.jobs_attributed_by_time"] += 1
        disk = op.extra.get("disk")
        if disk:
            totals["sources.parquet.files_written"] += disk["files"]
            totals["sources.parquet.bytes_written"] += disk["bytes"]
            rows_written += disk["warehouse_rows"]
            rows_changed += op.extra["mutation"].rows_changed()
    n = len(ops)
    out = {name: value / n for name, value in totals.items()}
    layer_time = sum(out[m] for m in set(SELF_TIME.values()) if m != "trace.unattributed_s")
    out["trace.accounted_ratio"] = layer_time * n / op_time
    out["spark.core_busy_ratio"] = totals["spark.executor_run_s"] / (op_time * cores)
    out["sources.parquet.plan_memo_hit_ratio"] = (
        memo_hits / (memo_hits + memo_misses) if memo_hits + memo_misses else 0.0
    )
    out["plans.etl.write_amplification"] = rows_written / rows_changed if rows_changed else 0.0
    is_etl = "initial_cycle_s" in prep
    out["plans.etl.initial_cycle_s"] = prep.get("initial_cycle_s", 0.0)
    out["plans.etl.incremental_cycle_s"] = (
        statistics.median(op.seconds for op in ops) if is_etl else 0.0
    )
    out["session.get_spark_s"] = session_s
    out["session.warmup_s"] = prep["warmup_s"]
    out["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb
    out["trace.op_p50_s"] = statistics.median(op.seconds for op in ops)
    out["trace.op_tail_s"] = tail([op.seconds for op in ops])[0]
    out["failed_ratio"] = sum(not op.ok for op in ops) / n
    return {name: {"value": out[name], "unit": unit} for name, unit in UNITS.items()}
