"""Generate a k-times-scaled copy of the sf0.1 testdata for scaling
measurements (tools/bench_scale.py): every 100 TB claim in this repo
should rest on a measured curve, not only on plan inspection.

Usage:  python tools/gen_scale.py <k> [out_dir]
        (out_dir defaults to scale_data/x<k> in the repository root)

Construction: each table is replicated k times ENTIRELY inside Spark
(one broadcast cross join with a k-row copies frame — map-side, no
shuffle, no driver loop), with per-copy perturbations chosen so that
each copy keeps the ORIGINAL's internal structure while copies stay
mutually inert:

- documents: ids offset per copy; every token prefixed with the copy tag
  (``g<copy>_``), so copies have disjoint vocabularies — within-copy
  shingle/Jaccard/SimHash structure is preserved exactly, while NO
  cross-copy near-dup pairs exist. Near-dup output therefore scales
  linearly in k and a super-linear runtime is attributable to the
  OPERATOR, not to a quadratically exploding answer.
- embeddings: ids offset; each copy's vectors multiplied by a per-copy
  deterministic ±1 sign pattern (md5 of the copy index). A diagonal
  sign matrix is orthogonal, so within-copy cosines are IDENTICAL to
  the original; cross-copy cosines scatter toward 0 (half the signs
  differ in expectation) and stay below near-dup thresholds.
- events: event/user ids offset per copy; timestamps untouched, so the
  hourly/session distribution per user is the original's.
- orders/lineitem/customer/supplier/part: all join keys offset per copy
  (same offset) — referential integrity holds within a copy, joins
  never cross copies. region/nation are fixed-cardinality dimensions
  (5/25 rows) and are copied as-is.

All perturbations are applied for EVERY copy including copy 0, so the
x1 output is the same distribution as x10/x100 and timings are
apples-to-apples across k.
"""

from __future__ import annotations

import hashlib
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

OFF = 10_000_000  # id offset per copy; far above any sf0.1 key


def _signs(copy: int) -> list[float]:
    """Deterministic ±1 pattern per copy, 64 dims, from md5 bits."""
    h = hashlib.md5(f"signs:{copy}".encode()).digest()
    bits = int.from_bytes(h[:8], "big")
    return [1.0 if (bits >> (j % 64)) & 1 else -1.0 for j in range(64)]


def _copies(spark: SparkSession, k: int) -> DataFrame:
    return spark.createDataFrame([(c,) for c in range(k)], "copy INT")


def _off(col: str) -> F.Column:
    return (F.col(col) + F.col("copy").cast("long") * F.lit(OFF)).alias(col)


def scale_documents(df: DataFrame, copies: DataFrame) -> DataFrame:
    tag = F.concat(F.lit("g"), F.col("copy").cast("string"), F.lit("_"))
    text = F.array_join(
        F.transform(F.split("text", " "), lambda t: F.concat(tag, t)), " "
    )
    return df.crossJoin(broadcast(copies)).select(
        _off("doc_id"),
        text.alias("text"),
        "lang",
        "source",
        F.length(text).cast("long").alias("n_chars"),
    )


def scale_embeddings(
    df: DataFrame, copies: DataFrame, spark: SparkSession, k: int
) -> DataFrame:
    sign_rows = [(c, _signs(c)) for c in range(k)]
    signs = spark.createDataFrame(sign_rows, "copy INT, signs ARRAY<FLOAT>")
    return (
        df.crossJoin(broadcast(copies))
        .join(broadcast(signs), "copy")
        .select(
            _off("vec_id"),
            F.zip_with("embedding", "signs", lambda x, s: x * s).alias(
                "embedding"
            ),
            "label",
        )
    )


def scale_events(df: DataFrame, copies: DataFrame) -> DataFrame:
    return df.crossJoin(broadcast(copies)).select(
        _off("event_id"), "ts", _off("user_id"), "event_type", "value", "props"
    )


# per-table key columns to offset for the TPC-H-ish tables
KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
}


def scale_keyed(df: DataFrame, copies: DataFrame, keys: list[str]) -> DataFrame:
    cols = [
        _off(c) if c in keys else F.col(c) for c in df.columns
    ]
    return df.crossJoin(broadcast(copies)).select(*cols)


def generate(spark: SparkSession, src_dir: str, out_dir: str, k: int) -> None:
    copies = _copies(spark, k)
    os.makedirs(out_dir, exist_ok=True)

    def w(df: DataFrame, name: str) -> None:
        df.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")

    r = lambda name: spark.read.parquet(f"{src_dir}/{name}.parquet")  # noqa: E731

    for name in ("region", "nation"):
        w(r(name), name)
    for name, keys in KEYED.items():
        w(scale_keyed(r(name), copies, keys), name)
    w(scale_documents(r("documents"), copies), "documents")
    w(scale_embeddings(r("embeddings"), copies, spark, k), "embeddings")
    w(scale_events(r("events"), copies), "events")


def main() -> None:
    from pw_etl_scrumptious_squad_spark.session import get_spark

    k = int(sys.argv[1])
    out_dir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(ROOT, "scale_data", f"x{k}")
    )
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"gen-scale-x{k}")
    spark.sparkContext.setLogLevel("ERROR")
    generate(spark, src, out_dir, k)
    print(f"wrote x{k} tables to {out_dir}")


if __name__ == "__main__":
    main()
