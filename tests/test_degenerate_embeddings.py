"""Degenerate-embeddings adversarial oracle battery — the vector twin of
tests/test_degenerate_text.py.

Every catalog entry whose oracle reads ONLY the embeddings table is swept
over a corpus of zero vectors, exact duplicates, antipodal pairs, one-hot
axes, denormal-scale (1e-8) and near-contract-limit (10.0) magnitudes,
and constant vectors — all INSIDE the documented quantization contract
(|x| small enough that floor(x*1e6+0.5) products stay exact) but at the
geometric edges where norm guards, tie-breaks, and sign handling live.
check.py hash parity per entry."""

from __future__ import annotations

import os
import re

import duckdb
import pytest

DIM = 8


def _vec(*pairs, scale=1.0):
    v = [0.0] * DIM
    for i, x in pairs:
        v[i] = x * scale
    return v

DEGENERATE_VECS = [
    # (vec_id, label, embedding)
    (0, 0, [0.0] * DIM),                       # zero vector
    (1, 0, _vec((0, 1.0))),                    # one-hot e0
    (2, 0, _vec((0, 1.0))),                    # exact duplicate of 1
    (3, 0, _vec((0, -1.0))),                   # antipodal of 1
    (4, 1, _vec((1, 1.0), (2, 1.0))),          # diagonal
    (5, 1, _vec((1, 1.0), (2, 1.0), ), ),      # duplicate of 4, same label
    (6, 2, _vec((3, 1e-8))),                   # denormal-ish norm
    (7, 2, _vec((3, 10.0))),                   # near contract limit
    (8, 2, _vec((3, 10.0), (4, -10.0))),       # mixed-sign large
    (9, 3, [0.125] * DIM),                     # constant vector
    (10, 3, [0.125] * DIM),                    # duplicate constant
    (11, 3, [-0.125] * DIM),                   # antipodal constant
    (12, 4, _vec((5, 0.5), (6, 0.5))),
    (13, 4, _vec((5, 0.5), (6, -0.5))),        # orthogonal-ish sibling
    (14, 5, _vec((7, 1.0))),                   # lone label
    (15, 5, [0.0] * DIM),                      # second zero, diff label
]

SF_SRC = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def degenerate_sf(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("degenerate_emb_sf")
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "vec_id": pa.array([r[0] for r in DEGENERATE_VECS], pa.int64()),
            "label": pa.array([r[1] for r in DEGENERATE_VECS], pa.int64()),
            "embedding": pa.array(
                [r[2] for r in DEGENERATE_VECS], pa.list_(pa.float32())
            ),
        }
    )
    pq.write_table(t, str(d / "embeddings.parquet"))
    for name in TABLES:
        if name != "embeddings":
            os.symlink(f"{SF_SRC}/{name}.parquet", d / f"{name}.parquet")
    return str(d)


def _embeddings_only_entries():
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql(SF_SRC)
    others = [t for t in TABLES if t != "embeddings"]
    names = []
    for name, sql in sorted(oracles.items()):
        low = sql.lower()
        if not re.search(r"\bembeddings\b", low):
            continue
        if any(re.search(rf"\b{t}\b", low) for t in others):
            continue
        # trained-literal oracles (s02/y37/y48/y59...) embed centroids or
        # codebooks FIT ON THE REAL TABLE; on a replaced table the
        # training side changes too, so the pinned-literal contract
        # doesn't transfer — their geometry edge cases live in
        # tests/test_geometry_routes.py and the adversarial battery
        if "VALUES" in sql and re.search(r"::DOUBLE\[\]|centroid", sql):
            continue
        names.append(name)
    return names


def test_embeddings_only_battery_is_nonempty():
    names = _embeddings_only_entries()
    assert len(names) >= 5, names
    assert "d06_embedding_neardup" in names
    assert "s01_cosine_topk" in names


@pytest.mark.parametrize("name", _embeddings_only_entries())
def test_degenerate_embeddings_oracle_parity(spark, degenerate_sf, name):
    import __spark_entry__ as entrymod
    from tools.check import value_hash

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql(degenerate_sf)
    sdf = qs[name](spark, degenerate_sf)
    srows = sdf.collect()
    scols = sdf.columns
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" '{degenerate_sf}/{t}.parquet'"
        )
    res = con.execute(oracles[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows), (
        f"{name}: rows {len(srows)} vs {len(drows)}"
    )
    assert sorted(scols) == sorted(dcols)
    hs = value_hash(scols, [[r[c] for c in scols] for r in srows])
    hd = value_hash(dcols, drows)
    if hs != hd:
        from check import normalize

        order_s = sorted(range(len(scols)), key=lambda i: scols[i])
        order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
        a = sorted(
            "\x1f".join(normalize(r[scols[i]]) for i in order_s)
            for r in srows
        )
        b = sorted(
            "\x1f".join(normalize(r[i]) for i in order_d) for r in drows
        )
        diff = next(
            (i for i, (x, y) in enumerate(zip(a, b)) if x != y), None
        )
        detail = (
            f"first diff at sorted row {diff}:\n spark: "
            f"{a[diff][:400]}\n duck : {b[diff][:400]}"
            if diff is not None
            else "row sets differ in tails"
        )
        raise AssertionError(f"{name}: value-hash mismatch\n{detail}")


def test_neardup_duplicate_ids_vectorized_matches_expr(spark):
    """Rows that share a vec_id, within one label and across labels,
    routed by ``auto`` to the vectorized exact tier: it must emit the
    expr tier's rows exactly — no (x, x) self-pair from two copies of one
    id, one row per row pair of two ids in the same label, and nothing
    for NULL labels (the expr tier's label equality never matches NULL)."""
    from pw_etl_scrumptious_squad_spark.operators import dedup

    rows = [
        (1, 0, _vec((0, 1.0))),
        (1, 0, _vec((0, 1.0))),               # exact duplicate row
        (1, 0, _vec((0, 0.9), (1, 0.1))),     # same id, other vector
        (2, 0, _vec((0, 1.0))),
        (2, 1, _vec((0, 1.0))),               # id 2 again, other label
        (3, 1, _vec((0, 0.95), (1, 0.05))),
        (1, 1, _vec((0, 1.0))),
        (4, None, _vec((2, 1.0))),            # NULL label
        (5, None, _vec((2, 1.0))),
        (5, None, _vec((2, 1.0))),
    ]
    # spread the ids over several hash chunks, some duplicated
    rows += [
        (10 + i % 40, i % 2, _vec((i % DIM, 1.0), ((i + 1) % DIM, 0.5)))
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "vec_id LONG, label LONG, embedding ARRAY<FLOAT>"
    )
    hint = dedup._VEC_EXACT_MIN_ROWS + 1
    v = dedup.embedding_neardup_pairs(
        df, "vec_id", "embedding", "label", 0.3, n_rows_hint=hint
    )
    e = dedup.embedding_neardup_pairs(
        df, "vec_id", "embedding", "label", 0.3, n_rows_hint=hint, impl="expr"
    )
    assert "FlatMapGroupsInPandas" in v._jdf.queryExecution().executedPlan().toString()
    got = sorted(map(tuple, v.collect()))
    assert got == sorted(map(tuple, e.collect()))
    assert all(a < b for a, b, _ in got)
    assert got.count((1, 2, 1.0)) == 3  # both labels' copies of 1 meet 2
    assert not [p for p in got if {p[0], p[1]} & {4, 5}]
