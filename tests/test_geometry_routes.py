"""Route-twin parity for the round-5 scale geometries.

Pattern (tests/test_adversarial.py:128): the oracle pins the VALUE-exact
small-scale path; these tests pin that every scale route — the wide
combinatorial band geometry for exact hamming pairs and the SemDeDup
Arrow-matmul tier — produces IDENTICAL rows to the path the oracle
checks, so the oracle transitively covers the scale routes too.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from pw_etl_scrumptious_squad_spark.operators import curation, dedup

SF = "/root/testdata/sf0.001"


def _read(spark, table):
    from pw_etl_scrumptious_squad_spark.sources.parquet import read_table

    return read_table(spark, SF, table)


def test_combo_band_geometry_matches_banded_exact(spark):
    """The wide combinatorial band geometry (C(p,2) piece pairs, the
    auto-widened exact tier past the 16-bit birthday bound) must emit
    exactly the banded geometry's pair set on real text signatures —
    both are pigeonhole-exact, so any difference is a bug."""
    docs = _read(spark, "documents")
    sigs = dedup.simhash_words(
        docs, "doc_id", "text", bits=128
    ).localCheckpoint()
    banded = dedup.hamming_near_pairs_words(
        sigs, bits=128, bands=8, max_hamming=7, sig_col="simhash_words"
    )
    combo = dedup.hamming_near_pairs_words(
        sigs,
        bits=128,
        bands=8,
        max_hamming=7,
        sig_col="simhash_words",
        n_rows_hint=10**6,  # force the wide geometry
    )
    ra = sorted(map(tuple, banded.collect()))
    rb = sorted(map(tuple, combo.collect()))
    assert ra == rb
    assert len(ra) > 0  # the corpus has real near-dups; don't pass on empty


def test_combo_band_geometry_vs_brute_force(spark):
    """Closed-form check on synthetic signatures: plant clusters at known
    hamming distances (0, 7 = max, 8 = just over) among random noise and
    compare the combo geometry against python brute force."""
    rng = random.Random(7)

    def words(bits_set):
        w = [0, 0]
        for b in bits_set:
            w[b // 64] |= 1 << (b % 64)
        # to signed int64
        return [x - (1 << 64) if x >= (1 << 63) else x for x in w]

    base = set(rng.sample(range(128), 60))
    rows = [(0, words(base))]
    flip7 = set(rng.sample(sorted(base), 7))
    rows.append((1, words((base - flip7))))  # hamming 7 from doc 0
    flip8 = set(rng.sample(sorted(base), 8))
    rows.append((2, words((base - flip8))))  # hamming 8 from doc 0
    rows.append((3, words(base)))  # hamming 0 from doc 0
    for i in range(4, 120):
        rows.append((i, words(set(rng.sample(range(128), 60)))))

    def ham(a, b):
        return sum(
            bin((x ^ y) & ((1 << 64) - 1)).count("1") for x, y in zip(a, b)
        )

    expected = sorted(
        (a, b, ham(rows[a][1], rows[b][1]))
        for a in range(len(rows))
        for b in range(a + 1, len(rows))
        if ham(rows[a][1], rows[b][1]) <= 7
    )
    sigs = spark.createDataFrame(rows, "doc_id long, sw array<long>")
    got = sorted(
        map(
            tuple,
            dedup.hamming_near_pairs_words(
                sigs,
                bits=128,
                bands=8,
                max_hamming=7,
                sig_col="sw",
                n_rows_hint=10**6,
            ).collect(),
        )
    )
    assert got == expected
    assert (0, 3, 0) in got and (0, 1, 7) in got
    assert all(not (a == 0 and b == 2) for a, b, _ in got)


def test_combo_band_value_width_guard():
    """Piece pairs that would overflow a positive bigint must refuse
    loudly, not wrap."""
    with pytest.raises(ValueError, match="overflow"):
        dedup._combo_band_structs(128, 0)  # p=2 -> 64+64 bit band values


def test_semdedup_routes_identical(spark):
    """SemDeDup expression path (oracle-matched) vs Arrow-matmul scale
    route: identical (vec_id, cell, cent_ppb, kept) rows on the real
    corpus PLUS planted degenerates (NULL embedding, zero vector,
    near-identical twins straddling the threshold)."""
    emb = _read(spark, "embeddings").select("vec_id", "embedding")
    twin_src = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    base = list(twin_src["embedding"])
    extra = spark.createDataFrame(
        [
            (10_001, base),  # exact twin of vec 0 -> one of them drops
            (10_002, None),  # NULL embedding
            (10_003, [0.0] * len(base)),  # zero vector
        ],
        "vec_id long, embedding array<float>",
    )
    corpus = emb.unionByName(extra)
    cents = (
        emb.filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").cast("int").alias("centroid_id"), "embedding"
        )
    )
    # impl='expr' pins the expression tier (the oracle's structural
    # twin); the default routes to the matmul tier — parity holds
    a = curation.semdedup_prune(
        corpus, cents, threshold_ppb=400_000_000, impl="expr"
    )
    b = curation.semdedup_prune(corpus, cents, threshold_ppb=400_000_000)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb
    by_id = {r[0]: r for r in ra}
    # degenerates: lowest cell, NULL cent_ppb, kept, and harmless
    for vid in (10_002, 10_003):
        assert by_id[vid][1] == 0 and by_id[vid][2] is None
        assert by_id[vid][3] == 1
    # the exact twin relationship dropped exactly one of the two
    assert {by_id[0][3], by_id[10_001][3]} == {0, 1}


def test_embedding_neardup_degenerate_guard(spark):
    """NULL and zero-norm vectors are filtered before the tier split —
    neither tier emits pairs touching them, and the cell route does not
    crash on them (np.stack over NULL would)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, None),
        (3, [0.0, 0.0, 0.0, 0.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for kwargs in (
        {"n_rows_hint": 4},  # exact tier
        {"max_exact_rows": 0, "n_rows_hint": 4},  # forced cell route
    ):
        out = dedup.embedding_neardup_pairs(
            vecs, threshold=0.5, **kwargs
        ).collect()
        assert sorted((r["doc_a"], r["doc_b"]) for r in out) == [(0, 1)]


def test_embedding_neardup_exact_vectorized_bit_equals_expr(spark):
    """The exact tier's default (vectorized: matmul candidate selection
    + the identical fold expression on survivors) must emit EXACTLY the
    expr tier's rows and doubles — including the corner semantics:
    NaN cosines (Inf-element vectors) pass the >= filter (Spark's
    NaN-is-greatest comparator), mixed-width pairs never emit
    (zip_with NULL-pads -> NULL fold), NULL/zero-norm rows are dropped
    by the shared guard."""
    import math

    rows = [
        (i, [math.cos(i / 9.0), math.sin(i / 9.0), (i % 5) / 7.0], i % 3)
        for i in range(120)
    ]
    rows += [
        (200, None, 0),                      # NULL vector
        (201, [0.0, 0.0, 0.0], 0),           # zero norm
        (202, [float("inf"), 1.0, 0.0], 0),  # Inf -> NaN uv -> NaN cosine
        (203, [1.0, 0.0, 0.0, 0.0], 0),      # mixed width: never pairs
        (204, [1.0, 0.0, 0.0, 0.0], 0),      # same width as 203: pairs
    ]
    df = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT"
    )
    v = dedup.embedding_neardup_pairs(
        df, "vec_id", "embedding", "label", 0.6, impl="vectorized"
    )
    e = dedup.embedding_neardup_pairs(
        df, "vec_id", "embedding", "label", 0.6, impl="expr"
    )
    rv = sorted(map(tuple, v.collect()))
    re_ = sorted(map(tuple, e.collect()))

    def canon(ts):
        # NaN != NaN; compare via repr so NaN rows can be equated
        return [(a, b, repr(c)) for a, b, c in ts]

    assert canon(rv) == canon(re_)
    assert v.schema == e.schema
    # NaN pair emitted by BOTH tiers (202 pairs with the parallel 120-row
    # fan near angle 0 — at least one partner passes the NaN-keep rule)
    assert any(
        (a == 202 or b == 202) and math.isnan(c) for a, b, c in rv
    )
    # mixed-width row pairs only with its equal-width partner
    w203 = [(a, b) for a, b, _ in rv if 203 in (a, b)]
    assert w203 == [(203, 204)]
    # the quadratic stage is the Arrow grouped map, not the pair join
    assert "FlatMapGroupsInPandas" in v._jdf.queryExecution().executedPlan().toString()
    # auto: non-integral ids stay on the expr tier (candidate ids pack
    # into int64 columns)
    sdf = df.select(
        F.col("vec_id").cast("string").alias("vec_id"), "embedding", "label"
    )
    s = dedup.embedding_neardup_pairs(sdf, "vec_id", "embedding", "label", 0.6)
    assert "FlatMapGroupsInPandas" not in s._jdf.queryExecution().executedPlan().toString()


def test_hard_negative_scale_routes_reject_non_integral_labels(spark):
    """The matmul/IVF tiers pack ids/labels into int64 arrays; string
    labels must fail LOUDLY at plan time (a silent cast('long') would
    NULL them out and drop rows where the expression tier works)."""
    import pytest

    from pw_etl_scrumptious_squad_spark.operators import similarity

    df = spark.createDataFrame(
        [(1, "en", [1.0, 0.0]), (2, "fr", [0.0, 1.0])],
        "vec_id LONG, label STRING, embedding ARRAY<DOUBLE>",
    )
    with pytest.raises(TypeError, match="integral"):
        similarity.hard_negative_mining(df, n_rows_hint=10**9)
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0])], "centroid_id INT, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(TypeError, match="integral"):
        similarity.hard_negatives_ivf(df, cent)
    # the expression tier still handles string labels
    rows = similarity.hard_negative_mining(df).collect()
    assert {(r["query_id"], r["neg_id"]) for r in rows} == {(1, 2), (2, 1)}
