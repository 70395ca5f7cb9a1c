"""Unicode / degenerate-text adversarial oracle battery.

The canonicalizer and the two engines' string semantics (split, length,
regexp, md5-of-utf8) are the least-tested seam in the text/dedup oracle
pairs: every catalog entry whose oracle reads ONLY the documents table is
swept here over a corpus of NUL bytes, astral-plane chars, NFC/NFD
lookalikes, RTL scripts, empty/whitespace-only docs, 1-token docs, long
tokens, exact duplicates, and quote/backslash/newline soup — with
check.py's row/schema/value-hash parity as the pass criterion. A
divergence means the oracle and the operator disagree about real-world
crawl bytes, exactly what the gate would eventually trip over."""

from __future__ import annotations

import os
import re

import duckdb
import pytest

DEGENERATE_DOCS = [
    # (doc_id, text, lang, source)
    (0, "", "en", "src0"),                        # empty
    (1, "   ", "en", "src0"),                     # spaces only
    (2, "\t \n ", "fr", "src1"),                  # mixed whitespace
    (3, "hello", "en", "src0"),                   # single token
    (4, "abc\x00def nul\x00byte", "en", "src2"),  # embedded NULs
    (5, "\U0001d518\U0001d52b\U0001d526 \U0001f600 \U00010348", "zh", "src1"),  # astral plane
    (6, "café latte", "fr", "src1"),         # NFC e-acute
    (7, "café latte", "fr", "src1"),        # NFD lookalike
    (8, "שלום عالم mixed rtl", "ar", "src2"),
    (9, "x" * 500, "en", "src0"),                 # one giant token
    (10, "the quick brown fox jumps over the lazy dog", "en", "src0"),
    (11, "the quick brown fox jumps over the lazy dog", "en", "src1"),  # exact dup
    (12, 'a"b\\c\nnew line\ttab', "en", "src2"),  # quote/backslash soup
    (13, "中文没有空格的文本", "zh", "src1"),  # CJK no spaces
    (14, "word " * 50, "en", "src0"),             # high repetition + trailing space
    (15, "a b", "en", "src0"),                    # minimal 2-token
    (16, " leading and trailing ", "en", "src1"),
    (17, "ééé üü ß", "de", "src2"),  # latin-1 range
]

SF_SRC = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def degenerate_sf(spark, tmp_path_factory):
    """A full sf-dir whose documents table is the degenerate corpus;
    every other table symlinks to sf0.001 (some oracles join lang
    dimensions etc. — keep them resolvable)."""
    d = tmp_path_factory.mktemp("degenerate_sf")
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "doc_id": pa.array([r[0] for r in DEGENERATE_DOCS], pa.int64()),
            "text": pa.array([r[1] for r in DEGENERATE_DOCS], pa.string()),
            "lang": pa.array([r[2] for r in DEGENERATE_DOCS], pa.string()),
            "source": pa.array([r[3] for r in DEGENERATE_DOCS], pa.string()),
            "n_chars": pa.array(
                [len(r[1]) for r in DEGENERATE_DOCS], pa.int64()
            ),
        }
    )
    pq.write_table(t, str(d / "documents.parquet"))
    for name in TABLES:
        if name != "documents":
            os.symlink(f"{SF_SRC}/{name}.parquet", d / f"{name}.parquet")
    return str(d)


def _documents_only_entries():
    """Catalog entries whose oracle references documents and no other
    base table (the text/dedup family); m-entries are excluded — their
    payload formulas derive from doc_id alone, so degenerate TEXT can't
    exercise them (they have their own codec batteries)."""
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql(SF_SRC)
    others = [t for t in TABLES if t != "documents"]
    names = []
    for name, sql in sorted(oracles.items()):
        if name.startswith("m0"):
            continue
        low = sql.lower()
        if not re.search(r"\bdocuments\b", low):
            continue
        if any(re.search(rf"\b{t}\b", low) for t in others):
            continue
        names.append(name)
    return names


def test_documents_only_battery_is_broad():
    names = _documents_only_entries()
    # the sweep must actually cover the text/dedup surface
    assert len(names) >= 30, names
    assert {"t01_token_stats", "d02_ngram_jaccard", "d04_simhash"} <= set(
        names
    )


@pytest.mark.parametrize("name", _documents_only_entries())
def test_degenerate_corpus_oracle_parity(spark, degenerate_sf, name):
    import __spark_entry__ as entrymod
    from tools.check import value_hash  # check.py's canonicalizer

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
    assert sorted(scols) == sorted(dcols), (
        f"{name}: cols {sorted(scols)} vs {sorted(dcols)}"
    )
    hs = value_hash(scols, [[r[c] for c in scols] for r in srows])
    hd = value_hash(dcols, drows)
    if hs != hd:
        # surface the first differing normalized row for debugging
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


def test_script_profile_closed_form(spark):
    """script_profile over hand-built mixed-script docs: exact counts
    per bucket, dominant with the min_by tie rule, empties excluded."""
    from pw_etl_scrumptious_squad_spark.operators import text as textops

    docs = spark.createDataFrame(
        [
            (1, "abc"),                # pure latin
            (2, "привет"),             # pure cyrillic (6 chars)
            (3, "ab 中文"),             # 2 latin + 1 other(space) + 2 han
            (4, ""),                   # excluded
            (5, "!!! 123"),            # all 'other'
            (6, "aбв"),                # 1 latin + 2 cyrillic -> cyrillic
            (7, "aб"),                 # 1+1 tie -> 'cyrillic' vs 'latin':
                                       # alphabetical first = cyrillic
        ],
        "doc_id LONG, text STRING",
    )
    got = {r["doc_id"]: r for r in textops.script_profile(docs).collect()}
    assert set(got) == {1, 2, 3, 5, 6, 7}
    assert got[1]["n_latin"] == 3 and got[1]["dominant_script"] == "latin"
    assert got[2]["n_cyrillic"] == 6 and got[2]["dominant_script"] == "cyrillic"
    assert (got[3]["n_latin"], got[3]["n_han"], got[3]["n_other"]) == (2, 2, 1)
    assert got[3]["n_chars"] == 5
    assert got[5]["n_other"] == 7 and got[5]["dominant_script"] == "other"
    assert got[6]["dominant_script"] == "cyrillic"
    assert got[7]["dominant_script"] == "cyrillic"  # tie: alphabetical
