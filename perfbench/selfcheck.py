"""Self-check of the benchmark on small inputs.

Runs the benchmark a few times with a one-second run length and asserts
that each run prints every metric BENCHMARK.json names, with its unit,
and that a deliberately corrupted result - of the warm-up build, of a
timed build, or of an ETL cycle - counts as a failed operation.

Usage (from the repository root):  python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(*args: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--seed", "7", "--seconds", "1", *args]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def expect_metrics(result: dict, declared: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == want, f"metrics differ from BENCHMARK.json: {got} vs {want}"
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), f"{name} is not a number"


def bench_entry() -> str:
    sys.path.insert(0, HERE)
    import workloads

    return workloads.ITERATIVE[0]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    clean = run("--workload", "catalog_iterative", "--trace", "0")
    expect_metrics(clean, bench["end_to_end"])
    assert clean["correct"] and clean["failed"] == 0, clean
    print("catalog, untraced: every end-to-end metric present, no failures")

    # only the post-run check of a timed build sees this corruption
    timed = run("--workload", "catalog_iterative", "--trace", "0",
                "--corrupt", "timed:" + bench_entry())
    assert not timed["correct"] and timed["failed"] == timed["attempted"], timed
    print("catalog, untraced: corrupted timed build failed its post-run check")

    # y73's speculative round runs under the program's own job group, so
    # its jobs must reach the op through attribution by submission time
    cc = "y73_incremental_cc"
    traced = run("--workload", "catalog_iterative", "--entries", cc, "--trace", "1", "--corrupt", cc)
    expect_metrics(traced, bench["per_layer"])
    assert not traced["correct"] and traced["failed"] == traced["attempted"], traced
    layer = {name: m["value"] for name, m in traced["metrics"].items()}
    assert layer["spark.jobs_attributed_by_time"] > 0, layer
    assert layer["catalog.build_jobs"] > 0 and layer["trace.accounted_ratio"] > 0.99, layer
    print("catalog, traced: every per-layer metric present; y73's own-group jobs")
    print("  attributed; corrupted entry failed")

    etl = run("--workload", "etl_cycles", "--trace", "0", "--corrupt", "etl")
    expect_metrics(etl, bench["end_to_end"])
    assert not etl["correct"] and etl["failed"] >= 1, etl
    print("etl: every end-to-end metric present; corrupted checks failed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
