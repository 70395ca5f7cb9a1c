"""Commit-time perf regression gate: run the cheapest headline queries
best-of-3 against committed floors and fail loudly on a real plan
regression — without paying for the full bench suite.

Usage:  python tools/bench_gate.py [--floors tools/bench_floors.json]
                                   [--ratio 1.5] [--update]

- The floor file maps query name -> seconds (best-of-3 on a quiet host).
- A query FAILS the gate when its best-of-3 exceeds ratio * floor.
- ``--update`` rewrites the floor file from this run (do this only on a
  quiet host after an intentional plan change — see ENGINEERING_NOTES
  "re-flooring" for the policy).
- The 1-minute load average is recorded; if the host load at start
  exceeds the core count, failures are reported as ADVISORY (exit 0)
  because the measurement itself is untrustworthy — the point of the
  gate is catching plan regressions, not punishing a busy machine.

The gate queries are deliberately the CHEAP, stable headliners: their
runtimes are dominated by plan shape (scan + a shuffle or two), not by
JVM/GC noise, so a 1.5x swing on a quiet host is a real regression.
Warm-up, training hoists and noop-sink timing are tools/harness.py's,
so a gate time is measured exactly as bench.py measures that query.
"""

from __future__ import annotations

import functools
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pw_etl_scrumptious_squad_spark import catalog as catmod  # noqa: E402
from pw_etl_scrumptious_squad_spark.session import get_spark  # noqa: E402
from tools.harness import hoist_training, load_avg, time_noop, warm_up  # noqa: E402

GATE_QUERIES = [
    "r06_cdc_filter",
    "t01_token_stats",
    "d01_exact_dedup",
    "t05_bpe_tokens",
    "r11_fact_build",
    "r13_keep_newest",
    "q09_events_hourly",
    "q18_lead_lag",
    "z02_topk_pagination",
    "q01_pricing_summary",
    # round-8 fast paths — regressions here mean a lost fan-out
    # (single-split explode) or a regrown shuffle (bucketed join)
    "y52_char_entropy",
    "y71_script_detect",
    "y74_bucketed_join",
    # round-10 fast paths — regressions here mean the unigram apply
    # regrew a corpus-sized DP (y89) or the sketch lost its
    # bucket-bounded shuffle (y90) or the gap-fill regrew a grid
    # shuffle (y87, replanned this round)
    "y89_unigram_encode",
    "y90_quantile_sketch",
    "y87_gap_fill_hourly",
    # round-10 continuation fast paths — regressions here mean the CMS
    # sketch lost its counter-universe-bounded shuffle (y92), the
    # normalize chain started routing ASCII rows through Python (y94),
    # or the WordPiece walk regrew a corpus-sized table (y96)
    "y92_cms_counts",
    "y94_normalize_text",
    "y96_wordpiece_encode",
]

DEFAULT_FLOORS = os.path.join(os.path.dirname(__file__), "bench_floors.json")


def main() -> int:
    args = sys.argv[1:]
    floors_path = (
        args[args.index("--floors") + 1]
        if "--floors" in args
        else DEFAULT_FLOORS
    )
    ratio = float(args[args.index("--ratio") + 1]) if "--ratio" in args else 1.5
    update = "--update" in args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    load = load_avg() or 0.0
    cores = os.cpu_count() or 1
    advisory = load > cores

    spark = get_spark(app_name="bench-gate")
    spark.sparkContext.setLogLevel("ERROR")
    cat = catmod.catalog()
    warm_up(spark, sf_dir)
    print(f"hoists={json.dumps(hoist_training(spark, sf_dir))}")

    results: dict[str, float] = {}
    for name in GATE_QUERIES:
        build = functools.partial(cat[name].build, spark, sf_dir)
        results[name] = round(min(time_noop(build) for _ in range(3)), 3)
        print(f"{name:<26} {results[name]:7.3f} s", flush=True)

    if update:
        with open(floors_path, "w") as f:
            json.dump(
                {"load_avg": load, "floors": results}, f, indent=1
            )
        print(f"floors rewritten -> {floors_path} (load {load:.2f})")
        return 0

    with open(floors_path) as f:
        floors = json.load(f)["floors"]
    failures = [
        (name, results[name], floors[name])
        for name in GATE_QUERIES
        if name in floors and results[name] > ratio * floors[name]
    ]
    for name, got, floor in failures:
        print(
            f"REGRESSION {name}: {got:.3f}s > {ratio:.2f}x floor"
            f" {floor:.3f}s ({got / floor:.2f}x)"
        )
    if failures and advisory:
        print(
            f"ADVISORY ONLY: start load {load:.2f} > {cores} cores —"
            " measurement untrustworthy; re-run on a quiet host"
        )
        return 0
    if not failures:
        print(f"gate clean ({len(GATE_QUERIES)} queries, load {load:.2f})")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
