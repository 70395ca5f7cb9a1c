"""Organic-sf1 validation bench (round-8 verdict item 5).

Runs every CATALOG-named query that has an x1/x10/x100 scaling curve in
BENCH_scale.json once (after warm-up) against the organic sf1.0 set
(tools/gen_organic.py — continuous distributions, no copy structure)
and records, per query:

- ``t_organic``   — measured seconds at organic sf1.0
- ``t10_copies``  — the copy-replicated x10 point (same nominal scale)
- ``t_alpha_pred``— t1 * 10^alpha_1_10 (what the recorded curve
                    predicts for a 10x input)
- ``ratio_vs_copies`` / ``ratio_vs_alpha``

If the copy-replication methodology were hiding superlinear behavior
that a continuous corpus exposes (shared-vocabulary shingle DFs, LSH
bucket skew, natural group-size spreads), these ratios blow up; ~1x
ratios certify the recorded alphas transfer to organic data.

Usage: python tools/bench_organic.py [organic_dir] [--out BENCH_scale.json]

Warm-up and noop-sink timing are tools/harness.py's; the result is
written as the ``sf1_organic`` section, every other section untouched.
"""

from __future__ import annotations

import functools
import json
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


def main() -> None:
    args = sys.argv[1:]
    organic = args[0] if args and not args[0].startswith("--") else (
        "scale_data/sf1_organic"
    )
    out_path = (
        args[args.index("--out") + 1] if "--out" in args else "BENCH_scale.json"
    )
    prior = load_json(out_path)
    curves = prior.get("queries")
    if not curves:
        sys.exit(f"{out_path} holds no scaling curves: run tools/bench_scale.py")

    spark = get_spark(app_name="bench-organic")
    spark.sparkContext.setLogLevel("ERROR")
    cat = catmod.catalog()
    names = sorted(n for n in curves if n in cat)
    warm_up(spark, organic)

    results: dict[str, dict] = {}
    for name in names:
        # warm pass (untimed): absorbs per-sf memoized hoists (IVF/PQ
        # training, the y83 layout write, y79/y80 classifier training)
        # and first-execution codegen — the same costs bench.py's
        # min-of-N protocol discards. Round-9 change: the single-run
        # protocol was silently charging one-time preps to the organic
        # point (y83 measured its 6M-row layout WRITE, 14.8x the read).
        build = functools.partial(cat[name].build, spark, organic)
        time_noop(build)
        t_org = round(time_noop(build), 3)
        c = curves[name]
        pred = round(c["t1"] * (10.0 ** c["alpha_1_10"]), 3)
        results[name] = {
            "t_organic": t_org,
            "t10_copies": c["t10"],
            "t_alpha_pred": pred,
            "ratio_vs_copies": round(t_org / c["t10"], 3) if c["t10"] else None,
            "ratio_vs_alpha": round(t_org / pred, 3) if pred else None,
        }
        print(name, results[name])

    # keep hand-written per-query adjudications across re-measures
    prior_annotations = prior.get("sf1_organic", {}).get("annotations")
    section = {
        "dir": organic,
        "load_avg": load_avg(),
        "n_queries": len(results),
        "queries": results,
        **({"annotations": prior_annotations} if prior_annotations else {}),
        "note": (
            "warm-then-timed per query (round 9): an untimed warm pass"
            " absorbs memoized hoists + codegen, matching bench.py's"
            " min-of-N discard; copy-point comparisons"
            " carry the usual shared-host noise band (see the"
            " measurement protocol in tools/harness.py)"
        ),
    }
    update_json_section(out_path, "sf1_organic", section)
    worst = sorted(
        results.items(), key=lambda kv: -(kv[1]["ratio_vs_copies"] or 0)
    )[:5]
    print(json.dumps({"sf1_organic_worst_vs_copies": dict(worst)}))


if __name__ == "__main__":
    main()
