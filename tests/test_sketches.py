"""Count-Min + KMV sketch battery (operators/sketches.py): one-sided
error, exact mergeability, partition invariance, exact-regime behavior,
set-algebra estimates vs ground truth, and the streaming Count-Min
twin's batch==stream bit-parity + replay idempotence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pw_etl_scrumptious_squad_spark.operators import sketches as sk
from pw_etl_scrumptious_squad_spark.streaming import pipeline as sp


def _items(spark, counts: dict[str, int], parts: int = 5):
    rows = [(t,) for t, n in counts.items() for _ in range(n)]
    return spark.createDataFrame(rows, "item STRING").repartition(parts)


@pytest.fixture(scope="module")
def corpus(spark):
    # 600 distinct items, zipf-ish counts 1..13 — small enough to be
    # exact everywhere, large enough to collide in a narrow sketch
    counts = {f"it{i:04d}": 1 + (i % 13) for i in range(600)}
    return counts, _items(spark, counts)


def test_shingle_occurrences_vectorized_matches_expr(spark):
    """The Arrow/hashlib shingle tier must emit the exact multiset of
    (keep_cols, item) rows the expression tier emits — including the
    NULL-text md5('') row, the short-doc whole-text fallback, empty
    strings, consecutive spaces (empty tokens kept), and NUL bytes."""
    rows = [
        (1, "en", None),
        (2, "en", ""),
        (3, "de", "a b"),
        (4, "de", "a b c d e f g"),
        (5, "en", "x  y   z"),
        (6, "fr", "a a a a a a"),
        (7, "fr", "nul\x00byte tok1 tok2 tok3 tok4 tok5"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, source STRING, text STRING"
    ).repartition(3)
    kw = dict(keep_cols=("doc_id", "source"))
    expr = sorted(
        map(tuple, sk.shingle_occurrences(df, impl="expr", **kw).collect())
    )
    vec = sorted(
        map(
            tuple,
            sk.shingle_occurrences(df, impl="vectorized", **kw).collect(),
        )
    )
    assert expr == vec and len(expr) > 0


def test_shingle_occurrences_distinct_within_row_matches_array_distinct(
    spark,
):
    """distinct_within_row must equal explode(array_distinct(__shingles))
    on both tiers — per-row dedup only (cross-row duplicates kept),
    including the degenerate rows (NULL text, repeated-token docs whose
    shingles collapse to one, short-doc fallback)."""
    from pw_etl_scrumptious_squad_spark.operators.text import (
        _SQL_SHINGLES,
        with_shingles,
    )

    rows = [
        (1, None),
        (2, ""),
        (3, "a a a a a a a a a a"),
        (4, "a b c d e f g h a b c d e f g h"),
        (5, "x y"),
        (6, "t1 t2 t3 t4 t5 t6"),
        (6, "t1 t2 t3 t4 t5 t6"),  # duplicate ROW: kept twice
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING").repartition(
        3
    )
    from pyspark.sql import functions as F

    ref = sorted(
        map(
            tuple,
            with_shingles(df, "text", 5)
            .select(
                "doc_id",
                F.explode(F.array_distinct(F.col(_SQL_SHINGLES))).alias(
                    "item"
                ),
            )
            .collect(),
        )
    )
    for impl in ("expr", "vectorized"):
        got = sorted(
            map(
                tuple,
                sk.shingle_occurrences(
                    df,
                    keep_cols=("doc_id",),
                    impl=impl,
                    distinct_within_row=True,
                ).collect(),
            )
        )
        assert got == ref and len(ref) > 0, impl


def test_cms_never_undercounts_and_zero_for_unseen_buckets(spark, corpus):
    counts, df = corpus
    sketch = sk.cms_sketch(df, depth=4, width=256).cache()
    probes = spark.createDataFrame(
        [(t,) for t in list(counts)[:50]] + [("never-seen-item",)],
        "item STRING",
    )
    est = {
        r["item"]: r["est_count"]
        for r in sk.cms_estimate(sketch, probes, depth=4, width=256).collect()
    }
    for t in list(counts)[:50]:
        assert est[t] >= counts[t], t  # one-sided: never an undercount
    assert est["never-seen-item"] >= 0
    # total mass conservation: each of the depth rows holds every occurrence
    total = sum(counts.values())
    per_row = {
        r["r"]: r["t"]
        for r in sketch.groupBy("r").agg(F.sum("n").alias("t")).collect()
    }
    assert per_row == {r: total for r in range(4)}


def test_cms_merge_equals_whole_and_partition_invariance(spark, corpus):
    counts, df = corpus
    whole = sorted(map(tuple, sk.cms_sketch(df, depth=3, width=128).collect()))
    items = list(counts.items())
    half1 = _items(spark, dict(items[: len(items) // 2]))
    half2 = _items(spark, dict(items[len(items) // 2:]))
    merged = sorted(
        map(
            tuple,
            sk.merge_cms_sketches(
                sk.cms_sketch(half1, depth=3, width=128),
                sk.cms_sketch(half2, depth=3, width=128),
            ).collect(),
        )
    )
    assert merged == whole
    repart = sorted(
        map(
            tuple,
            sk.cms_sketch(df.repartition(1), depth=3, width=128).collect(),
        )
    )
    assert repart == whole


def test_cms_parameter_validation(spark, corpus):
    _, df = corpus
    with pytest.raises(ValueError):
        sk.cms_sketch(df, depth=0)
    with pytest.raises(ValueError):
        sk.cms_sketch(df, depth=65)
    with pytest.raises(ValueError):
        sk.cms_sketch(df, width=1)


def _grouped(spark, spec: dict[str, range], parts: int = 7):
    rows = [(g, f"item{i}") for g, rng in spec.items() for i in rng]
    return spark.createDataFrame(rows, "grp STRING, item STRING").repartition(
        parts
    )


def test_kmv_exact_regime_reports_true_distinct(spark):
    df = _grouped(spark, {"a": range(100), "b": range(50, 150)})
    sketch = sk.kmv_sketch(df, "grp", k=256)
    est = {
        r["set_expr"]: (r["n_kept"], r["est_distinct"])
        for r in sk.kmv_set_estimates(
            sketch, k=256, pairs=[("a", "b")]
        ).collect()
    }
    assert est["a"] == (100, 100)
    assert est["b"] == (100, 100)
    assert est["a|b|union"] == (150, 150)  # both-exact: true values
    assert est["a|b|intersect"] == (50, 50)


def test_kmv_estimator_regime_error_envelope_and_set_algebra(spark):
    # 1000/1000 distinct with a 500-item overlap: well past k=64, so the
    # (k-1)/theta estimator is genuinely exercised. All hashing is
    # deterministic md5 — the assertions pin a generous multiple of the
    # 1/sqrt(k) standard error, not a flaky tolerance.
    df = _grouped(spark, {"a": range(1000), "b": range(500, 1500)})
    sketch = sk.kmv_sketch(df, "grp", k=64)
    est = {
        r["set_expr"]: r["est_distinct"]
        for r in sk.kmv_set_estimates(
            sketch, k=64, pairs=[("a", "b")]
        ).collect()
    }
    assert abs(est["a"] - 1000) / 1000 < 0.4
    assert abs(est["b"] - 1000) / 1000 < 0.4
    assert abs(est["a|b|union"] - 1500) / 1500 < 0.4
    assert abs(est["a|b|intersect"] - 500) / 500 < 0.6
    # sanity ordering: union >= each side's estimate, intersect <= union
    assert est["a|b|union"] >= max(est["a"], est["b"])
    assert est["a|b|intersect"] <= est["a|b|union"]


def test_kmv_partition_invariance_and_k_bound(spark):
    df = _grouped(spark, {"a": range(2000)})
    one = {
        r["grp"]: r["hs"]
        for r in sk.kmv_sketch(df.repartition(1), "grp", k=32).collect()
    }
    many = {
        r["grp"]: r["hs"]
        for r in sk.kmv_sketch(df.repartition(13), "grp", k=32).collect()
    }
    assert one == many
    assert len(one["a"]) == 32
    assert one["a"] == sorted(one["a"])


def test_kmv_sketch_of_union_equals_merged_heads(spark):
    """The k smallest of a union are computable from per-group sketches
    alone — the property every set-algebra estimate rests on."""
    df = _grouped(spark, {"a": range(800), "b": range(400, 1200)})
    per = {
        r["grp"]: set(r["hs"])
        for r in sk.kmv_sketch(df, "grp", k=48).collect()
    }
    both = df.withColumn("grp", F.lit("u"))
    direct = [
        r["hs"] for r in sk.kmv_sketch(both, "grp", k=48).collect()
    ][0]
    merged_head = sorted(per["a"] | per["b"])[:48]
    assert direct == merged_head


def test_streaming_cms_equals_batch_and_is_idempotent(spark, tmp_path):
    """Counters sum associatively, so the streaming store after N
    micro-batches must equal the BATCH sketch bit-for-bit; replaying
    all batches from a fresh checkpoint must leave the store untouched
    (last_bid guard); state stays under the counter-universe bound."""
    from pw_etl_scrumptious_squad_spark.sources import warehouse as W
    from pw_etl_scrumptious_squad_spark.sources.parquet import snapshot_read

    batches = [
        [(f"it{(7 * i + b) % 300:03d}",) for i in range(500)]
        for b in range(4)
    ]
    src = tmp_path / "items"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "item STRING").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"arrival={i}.parquet"))

    def stream():
        return (
            spark.readStream.schema("item string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/arrival=*.parquet")
        )

    store = str(tmp_path / "cmsstore")
    q = sp.streaming_cms(
        stream(), store, str(tmp_path / "ckpt"), depth=3, width=64
    )
    q.awaitTermination(180)

    full = spark.createDataFrame(
        [r for b in batches for r in b], "item STRING"
    )
    want = sorted(
        map(tuple, sk.cms_sketch(full, depth=3, width=64).collect())
    )
    pinned = W.warehouse_snapshot_tables(store, None, spark)
    got = sorted(
        map(
            tuple,
            snapshot_read(
                spark, store, "sketch", version=pinned["sketch"]
            ).collect(),
        )
    )
    assert got == want
    assert len(got) <= 3 * 64  # bounded state

    probes = spark.createDataFrame(
        [("it000",), ("it123",), ("absent",)], "item STRING"
    )
    got_est = sorted(
        map(
            tuple,
            sp.read_cms_estimates(spark, store, probes).collect(),
        )
    )
    want_est = sorted(
        map(
            tuple,
            sk.cms_estimate(
                sk.cms_sketch(full, depth=3, width=64),
                probes,
                depth=3,
                width=64,
            ).collect(),
        )
    )
    assert got_est == want_est

    # replay from a fresh checkpoint: every batch_id <= stored last_bid
    before_version = W.warehouse_version(store, spark)
    q2 = sp.streaming_cms(
        stream(), store, str(tmp_path / "ckpt2"), depth=3, width=64
    )
    q2.awaitTermination(180)
    assert W.warehouse_version(store, spark) == before_version
    got2 = sorted(
        map(
            tuple,
            snapshot_read(
                spark,
                store,
                "sketch",
                version=W.warehouse_snapshot_tables(store, None, spark)[
                    "sketch"
                ],
            ).collect(),
        )
    )
    assert got2 == want

    # a stream at another width would fold incompatible counters into
    # the store (estimates that undercount): refused before it starts
    with pytest.raises(ValueError, match="width"):
        sp.streaming_cms(
            stream(), store, str(tmp_path / "ckpt3"), depth=3, width=32
        )
    assert W.warehouse_version(store, spark) == before_version
    assert not (tmp_path / "ckpt3").exists()


def test_streaming_kmv_equals_batch_and_is_idempotent(spark, tmp_path):
    """KMV merges exactly (k smallest distinct of a union from per-batch
    k-min sets), so the streaming store after N micro-batches must equal
    the BATCH sketch bit-for-bit, and the set-algebra estimates must
    read identically; replay from a fresh checkpoint leaves the store
    untouched (last_bid guard)."""
    from pw_etl_scrumptious_squad_spark.sources import warehouse as W
    from pw_etl_scrumptious_squad_spark.sources.parquet import snapshot_read

    batches = [
        [("a" if i % 2 else "b", f"item{(97 * i + bi) % 700}") for i in range(400)]
        for bi in range(4)
    ]
    src = tmp_path / "kitems"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "grp STRING, item STRING").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / f"arrival={i}.parquet"))

    def stream():
        return (
            spark.readStream.schema("grp string, item string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/arrival=*.parquet")
        )

    store = str(tmp_path / "kmvstore")
    q = sp.streaming_kmv(
        stream(), store, str(tmp_path / "kckpt"), k=64
    )
    q.awaitTermination(180)

    full = spark.createDataFrame(
        [r for b in batches for r in b], "grp STRING, item STRING"
    )
    want = {
        r["grp"]: r["hs"] for r in sk.kmv_sketch(full, "grp", k=64).collect()
    }
    pinned = W.warehouse_snapshot_tables(store, None, spark)
    got = {
        r["grp"]: r["hs"]
        for r in snapshot_read(
            spark, store, "sketch", version=pinned["sketch"]
        ).collect()
    }
    assert got == want
    assert all(len(h) <= 64 for h in got.values())  # bounded state

    got_est = sorted(
        map(
            tuple,
            sp.read_kmv_estimates(
                spark, store, pairs=[("a", "b")]
            ).collect(),
        )
    )
    want_est = sorted(
        map(
            tuple,
            sk.kmv_set_estimates(
                sk.kmv_sketch(full, "grp", k=64), k=64, pairs=[("a", "b")]
            ).collect(),
        )
    )
    assert got_est == want_est

    before_version = W.warehouse_version(store, spark)
    q2 = sp.streaming_kmv(
        stream(), store, str(tmp_path / "kckpt2"), k=64
    )
    q2.awaitTermination(180)
    assert W.warehouse_version(store, spark) == before_version


def test_cms_join_size_one_sided_and_exact_when_wide(spark):
    """Inner-product estimate never undercounts; with width >> keys the
    cross-terms vanish and the estimate is exactly the true join size,
    including a deterministic skew case (one hot key)."""
    a_counts = {f"k{i}": 1 + (i % 5) for i in range(40)}
    a_counts["hot"] = 500
    b_counts = {f"k{i}": 2 for i in range(20, 60)}
    b_counts["hot"] = 30
    a = _items(spark, a_counts)
    b = _items(spark, b_counts)
    true = sum(
        a_counts.get(k, 0) * b_counts.get(k, 0)
        for k in set(a_counts) | set(b_counts)
    )
    wide_a = sk.cms_sketch(a, depth=4, width=4096)
    wide_b = sk.cms_sketch(b, depth=4, width=4096)
    est_wide = sk.cms_join_size(wide_a, wide_b).first()["est_join_size"]
    assert est_wide == true  # no collisions at this width
    narrow_a = sk.cms_sketch(a, depth=3, width=16)
    narrow_b = sk.cms_sketch(b, depth=3, width=16)
    est_narrow = sk.cms_join_size(narrow_a, narrow_b).first()[
        "est_join_size"
    ]
    assert est_narrow >= true  # collisions only ever ADD


def test_streaming_hll_equals_batch_and_is_idempotent(spark, tmp_path):
    """HLL registers merge by element-wise max, so the streaming store
    after N micro-batches must equal the BATCH registers bit-for-bit
    and the finalized estimates must match the batch path; replay from
    a fresh checkpoint leaves the store untouched."""
    from pw_etl_scrumptious_squad_spark.operators import curation as C
    from pw_etl_scrumptious_squad_spark.sources import warehouse as W
    from pw_etl_scrumptious_squad_spark.sources.parquet import snapshot_read

    batches = [
        [
            ("a" if i % 3 else "b", f"item{(53 * i + bi) % 900}")
            for i in range(400)
        ]
        for bi in range(4)
    ]
    src = tmp_path / "hitems"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "grp STRING, item STRING").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / f"arrival={i}.parquet"))

    def stream():
        return (
            spark.readStream.schema("grp string, item string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/arrival=*.parquet")
        )

    store = str(tmp_path / "hllstore")
    q = sp.streaming_hll(stream(), store, str(tmp_path / "hckpt"), p=6)
    q.awaitTermination(180)

    full = spark.createDataFrame(
        [r for b in batches for r in b], "grp STRING, item STRING"
    )
    want_regs = sorted(
        map(
            tuple,
            C.hll_registers(full, ["grp"], "item", 6).collect(),
        )
    )
    pinned = W.warehouse_snapshot_tables(store, None, spark)
    got_regs = sorted(
        map(
            tuple,
            snapshot_read(
                spark, store, "regs", version=pinned["regs"]
            ).collect(),
        )
    )
    assert got_regs == want_regs
    assert len(got_regs) <= 2 * (1 << 6)  # bounded state

    got_est = sorted(
        map(tuple, sp.read_hll_estimates(spark, store).collect())
    )
    want_est = sorted(
        map(
            tuple,
            C.hll_estimate_from_registers(
                C.hll_registers(full, ["grp"], "item", 6), ["grp"], 6
            ).collect(),
        )
    )
    assert got_est == want_est

    before = W.warehouse_version(store, spark)
    q2 = sp.streaming_hll(stream(), store, str(tmp_path / "hckpt2"), p=6)
    q2.awaitTermination(180)
    assert W.warehouse_version(store, spark) == before


def test_sketch_ranks_one_sided_and_monotone(spark):
    from pw_etl_scrumptious_squad_spark.operators.stats import (
        quantile_sketch,
        sketch_ranks,
    )

    vals = [i * 997 - 300_000 for i in range(1, 1500)]
    df = spark.createDataFrame([(v,) for v in vals], "v LONG")
    sk_df = quantile_sketch(df, "v")
    probes = [min(vals), -1, 0, 250_000, max(vals), max(vals) + 10**6]
    got = {
        r["probe"]: (r["est_rank"], r["total"], r["rank_ppb"])
        for r in sketch_ranks(sk_df, probes).collect()
    }
    svals = sorted(vals)
    for p in probes:
        true_rank = sum(1 for v in svals if v <= p)
        est, total, ppb = got[p]
        assert est >= true_rank, p  # one-sided, never an underrank
        assert total == len(vals)
        assert ppb == est * 10**9 // total
    ranks = [got[p][0] for p in sorted(probes)]
    assert ranks == sorted(ranks)  # monotone in the probe
    assert got[max(vals) + 10**6][0] == len(vals)  # above-max = all


def test_grouped_heavy_hitters_match_naive_and_are_partition_invariant(
    spark,
):
    from collections import Counter

    from pw_etl_scrumptious_squad_spark.operators.text import (
        heavy_hitters_exact_grouped,
    )

    import pytest as _pytest

    rows = []
    for g in ("x", "y", "z"):
        toks = []
        for i in range(300):
            toks.append(f"{g}common{i % 3}")  # per-group heavy
            toks.append(f"rare{i}{g}")  # singletons
        rows.append((g, " ".join(toks)))
    df = spark.createDataFrame(rows, "source STRING, text STRING")

    def naive():
        want = {}
        for g, text in rows:
            c = Counter(t for t in text.split(" ") if t)
            total = sum(c.values())
            thresh = -(-total // 50)
            for tok, n in c.items():
                if n >= thresh:
                    want[(g, tok)] = n
        return want

    for parts in (1, 7):
        got = {
            (r["source"], r["token"]): r["n_occurrences"]
            for r in heavy_hitters_exact_grouped(
                df.repartition(parts), "source", denom=50, capacity=64
            ).collect()
        }
        assert got == naive(), parts

    with _pytest.raises(ValueError):
        heavy_hitters_exact_grouped(df, "source", denom=100, capacity=64)
