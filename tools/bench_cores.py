"""Core-count scaling evidence at a compute-bound scale (round-10
verdict item 4).

BENCH_r10's 8-core aggregate BEAT its 32-core aggregate at sf0.1 — the
suite there is scheduler-latency-bound, so sf0.1 says nothing about how
the operators use a cluster. This tool times a named set of cost-center
queries against the ORGANIC sf1 set (tools/gen_organic.py — continuous
distributions, 10x sf0.1, no copy structure) at the CURRENT
$SPARK_GRAFT_CPUS and appends the run into BENCH_scale.json under
``cores_scaling.runs[<cpus>]``. Run it twice (32 and 8 cores); the
second invocation computes per-query ``ratio_8_over_32`` next to the
runs:

    SPARK_GRAFT_CPUS=32 python tools/bench_cores.py scale_data/sf1_organic
    SPARK_GRAFT_CPUS=8  python tools/bench_cores.py scale_data/sf1_organic

Reading: ratio ~= 4 (the core ratio) = compute-bound and parallel;
ratio ~= 1 = serialized (driver/job-count floor — expected for the
iterative loop entries y73/y81/y97, which run N sequential jobs by
design); in between = partially parallel. min-of-2 per query; the
warm-up and the noop-sink timing are tools/harness.py's. A missing
``--out`` file is created.
"""

from __future__ import annotations

import functools
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pw_etl_scrumptious_squad_spark import catalog as catmod  # noqa: E402
from pw_etl_scrumptious_squad_spark.session import get_spark  # noqa: E402
from tools.harness import (  # noqa: E402
    load_avg,
    load_json,
    time_noop,
    update_json_section,
    warm_up,
)

# The driver-r10 top cost centers (quiet-host evidence), minus the
# training-literal entries (their hoists would dominate), plus two
# plain scan/agg shapes as the compute-bound control group.
QUERIES = [
    "y97_triangle_count",
    "y73_incremental_cc",
    "y81_part_pagerank",
    "c11_star_lifecycle",
    "y78_exact_substring_sa",
    "x02_fineweb_pipeline",
    "y77_exact_substring_dedup",
    "y15_embedding_srp",
    "x05_warc_corpus_pipeline",
    "x04_image_neardup_pipeline",
    "y76_prefix_filter_pairs",
    "d06_embedding_neardup",
    # compute-bound controls (scan + agg / one shuffle):
    "q01_pricing_summary",
    "y92_cms_counts",
    "d03_minhash_signatures",
    "y08_decontamination",
]


def main() -> None:
    args = sys.argv[1:]
    organic = args[0] if args else "scale_data/sf1_organic"
    out_path = args[args.index("--out") + 1] if "--out" in args else "BENCH_scale.json"
    section = load_json(out_path).get("cores_scaling") or {
        "dir": organic,
        "method": "min-of-2 noop-sink seconds per query at organic "
        "sf1 under local[cpus]; ratio_8_over_32 ~= 4 means "
        "compute-bound, ~= 1 means a sequential job floor",
        "runs": {},
    }

    spark = get_spark(app_name="bench-cores")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism
    cat = catmod.catalog()
    warm_up(spark, organic)

    load_start = load_avg()
    timings: dict[str, float] = {}
    for name in QUERIES:
        spark.sparkContext.setJobDescription(f"bench-cores {name}")
        build = functools.partial(cat[name].build, spark, organic)
        timings[name] = round(min(time_noop(build) for _ in range(2)), 3)
        print(f"{name:38} {timings[name]:8.3f} s", flush=True)
    load_end = load_avg()

    section["runs"][str(cpus)] = {
        "queries": timings,
        "load_avg_start": load_start,
        "load_avg_end": load_end,
    }
    runs = section["runs"]
    if "32" in runs and "8" in runs:
        q32, q8 = runs["32"]["queries"], runs["8"]["queries"]
        section["ratio_8_over_32"] = {
            k: round(q8[k] / q32[k], 2)
            for k in sorted(q32)
            if k in q8 and q32[k] > 0
        }
    update_json_section(out_path, "cores_scaling", section)
    print(f"recorded cores run cpus={cpus} into {out_path}")


if __name__ == "__main__":
    main()
