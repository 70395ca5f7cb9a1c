"""The one timing harness: the measurement protocol behind every number
in bench_evidence.json and BENCH_scale.json.

bench.py and tools/bench_{cores,gate,organic,scale,stream}.py call these
functions; none of them re-implements a step.

1. ``warm_up``: spawn the Python workers (a mapInPandas no-op over one
   row per core), so mapInPandas queries do not pay interpreter start-up
   inside their timing, then count every table to prime the JVM, codegen
   and the parquet footers. Nothing is cached: each timed query still
   does all of its own scan and compute.
2. ``hoist_training``: run the per-sf memoized training steps (IVF
   centroids, PQ codebooks, the y74 bucketed layout, the quality
   classifier, the unigram vocabulary, the WordPiece pieces) outside the
   timed loop. Each is timed and returned, so the one-time cost is
   recorded next to the query times instead of being charged to a first
   run.
3. ``time_noop``: build the frame and force it with a noop-format write:
   the full computation, no sink cost, nothing collected to the driver.
   The build is inside the timing because several operators run eager
   jobs while the frame is built.
4. ``load_avg``: the host's 1-minute load average, recorded around a
   suite so a noisy run can be told apart from a plan change.

Each tool keeps its own query list, run count and output: bench.py runs
each query 2-3 times (a third run when the first two disagree by >20%)
and keeps the min; bench_cores min-of-2; bench_gate min-of-3;
bench_scale min-of-2 per size; bench_organic one untimed warm pass, then
one timed run. Sections of a JSON artifact that several tools share
(BENCH_scale.json) are written only through ``update_json_section``.

As a CLI it times named catalog entries in isolation, so a single
optimization can be measured without paying for the whole suite:

    python tools/harness.py [-n RUNS] query [query ...]

Data comes from $SPARK_GRAFT_SF_DIR (default: the sf0.1 testdata). It
prints the hoist seconds, then one line per query:
"<min>s  runs=[...]  name" (min-of-RUNS, default 3).
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import ORACLE_SF_DIR  # noqa: E402
from pw_etl_scrumptious_squad_spark import catalog as catmod  # noqa: E402
from pw_etl_scrumptious_squad_spark.catalog_ext import (  # noqa: E402
    _qc_weights,
    ivf_centroid_literals,
    pq_codebook_literals,
    unigram_vocab_literals,
    wordpiece_pieces,
)
from pw_etl_scrumptious_squad_spark.operators import bucketed  # noqa: E402
from pw_etl_scrumptious_squad_spark.session import get_spark  # noqa: E402
from pw_etl_scrumptious_squad_spark.sources.parquet import read_table  # noqa: E402
from tools.check import TABLES  # noqa: E402


def time_noop(thunk) -> float:
    """Seconds to build ``thunk()``'s frame and run it into the noop sink."""
    start = time.perf_counter()
    thunk().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - start


def warm_up(spark, sf_dir: str) -> dict[str, int]:
    """Spawn one Python worker per core, then count every table; returns
    the row counts."""
    n = spark.sparkContext.defaultParallelism
    time_noop(
        lambda: spark.range(n).repartition(n).mapInPandas(lambda it: it, "id long")
    )
    return {t: read_table(spark, sf_dir, t).count() for t in TABLES}


def hoist_training(spark, sf_dir: str) -> dict:
    """Train and memoize every per-sf artifact the catalog reuses; returns
    the seconds each took, plus ``bucketize_mode``: ``"adopt"`` when a
    prior process had already published a bucketed layout (publish-then-
    adopt registers DDL only), ``"build"`` when this run wrote it."""

    def timed(train) -> float:
        start = time.perf_counter()
        train()
        return round(time.perf_counter() - start, 3)

    keys = {"lineitem": "l_orderkey", "orders": "o_orderkey"}
    published = any(
        os.path.exists(
            os.path.join(
                bucketed.bucketed_root(),
                bucketed.bucket_table_name(t, sf_dir, k, bucketed.DEFAULT_BUCKETS),
                "_SUCCESS",
            )
        )
        for t, k in keys.items()
    )

    def bucketize() -> None:
        for t, k in keys.items():
            bucketed.ensure_bucketed(spark, read_table(spark, sf_dir, t), t, sf_dir, k)

    # a dict display evaluates in order: the steps run as listed
    return {
        "ivf_train_seconds": timed(lambda: ivf_centroid_literals(sf_dir, spark)),
        "pq_train_seconds": timed(lambda: pq_codebook_literals(sf_dir, spark)),
        "bucketize_seconds": timed(bucketize),
        "bucketize_mode": "adopt" if published else "build",
        "qc_train_seconds": timed(lambda: _qc_weights(sf_dir, spark)),
        "unigram_train_seconds": timed(lambda: unigram_vocab_literals(sf_dir, spark)),
        "wordpiece_train_seconds": timed(lambda: wordpiece_pieces(sf_dir, spark)),
    }


def load_avg() -> float | None:
    """The host's 1-minute load average, or None where the OS has none."""
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover - non-unix
        return None


def load_json(path: str) -> dict:
    """The JSON object at ``path``; an empty dict when the file is missing."""
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def update_json_section(path: str, key: str, value) -> None:
    """Set ``key`` in the JSON object at ``path``, creating the file when
    it is missing and leaving every other section as it was. The file is
    replaced atomically, so a crash mid-write cannot truncate it."""
    payload = load_json(path)
    payload[key] = value
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1)
        f.write("\n")
    os.replace(tmp, path)


def main() -> None:
    args = sys.argv[1:]
    n_runs = 3
    if args and args[0] == "-n":
        n_runs = int(args[1])
        args = args[2:]
    cat = catmod.catalog()
    unknown = [name for name in args if name not in cat]
    if unknown:
        sys.exit(f"not catalog entries: {', '.join(unknown)}")
    # the bench scale, beside the driver contract's oracle scale
    bench_sf = os.path.join(os.path.dirname(ORACLE_SF_DIR), "sf0.1")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", bench_sf)
    spark = get_spark(app_name="harness")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)
    print(f"hoists={json.dumps(hoist_training(spark, sf_dir))}")
    print(f"load_start={load_avg()}")
    for name in args:
        build = functools.partial(cat[name].build, spark, sf_dir)
        spark.sparkContext.setJobDescription(f"time: {name}")
        runs = [round(time_noop(build), 3) for _ in range(n_runs)]
        spark.sparkContext.setJobDescription(None)
        print(f"{min(runs):7.3f}s  runs={runs}  {name}")
    print(f"load_end={load_avg()}")


if __name__ == "__main__":
    main()
