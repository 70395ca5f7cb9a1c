"""Deduplication operators for training-data pipelines (north-star
extensions — no reference counterpart, SURVEY.md §2.4).

Scale design:
- **Exact dedup** is a hash aggregation on the content key (or its md5 for
  wide text) — one shuffle, map-side partial aggregation for free.
- **Near-dup (MinHash + LSH)** avoids the O(n^2) pair space: shingle ->
  K minhashes -> B bands; only documents sharing a band bucket are paired,
  then verified with exact Jaccard. Every step is built-in higher-order
  SQL functions (split/transform/aggregate/md5/conv) — JVM-side, no UDFs.
- **SimHash** uses explode + a generated per-bit aggregation (still
  built-ins); Hamming-near pairs come from banding the simhash bits.
- All hash functions derive from md5, so results are deterministic and
  engine-independent (reproducible in the DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from pw_etl_scrumptious_squad_spark.checkpoint import materialize
from pw_etl_scrumptious_squad_spark.operators.text import (
    _SQL_SHINGLES,
    _spread_narrow_input,
    with_shingles,
)


# Bitmask fast-path vocabulary cap: ceil(1024/64) = 16 mask words keeps the
# per-pair expression small while covering dictionary-sized vocabularies.
_BITMASK_VOCAB_CAP = 1024


def _jaccard_length_filter(
    threshold: float, n_a: str = "a.n", n_b: str = "b.n"
):
    """Exact length prefilter for Jaccard pair joins (the classic
    size-bound from set-similarity-join literature): J(a,b) <=
    min(|a|,|b|)/max(|a|,|b|), so any pair whose size ratio is below the
    threshold can be pruned BEFORE the per-pair intersection/division.
    The 1e-9 slack makes the bound exact under the 9-dp ROUND the emit
    filter applies (round(j,9) >= t requires j >= t - 5e-10, and a pruned
    pair has j <= ratio < t - 1e-9 < t - 5e-10). Cheap integer
    comparisons only — in codegen this short-circuits the popcount /
    array_intersect and the division for ~2/3 of candidate pairs on a
    0.9-threshold corpus."""
    lo = F.least(F.col(n_a), F.col(n_b))
    hi = F.greatest(F.col(n_a), F.col(n_b))
    return lo >= (F.lit(threshold) - F.lit(1e-9)) * hi


def _bit_literal(bit: int) -> str:
    """Spark SQL long literal for 1<<bit; bit 63 must be written as the
    negative two's-complement value (9223372036854775808L overflows)."""
    v = 1 << bit
    if bit == 63:
        v -= 1 << 64
    return f"{v}L"


def dedup_exact(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: one representative (min id) per distinct key, with the
    duplicate count. Equivalent to ``dropDuplicates`` but deterministic about
    WHICH row survives (dropDuplicates keeps an arbitrary first)."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_perm: int = 16,
    shingle_size: int = 5,
    impl: str = "auto",
) -> DataFrame:
    """MinHash signature per document: ``minhash`` array<bigint> of length
    ``num_perm``. Only the narrow (id, text) projection is touched. The
    default (vectorized) tier runs ``mapInPandas`` — it needs
    pandas/numpy/pyarrow on the executors and may apply a guarded
    repartition to spread single-partition inputs
    (``_spread_narrow_input``); the ``'expr'`` tier is pure column
    expressions with no shuffle and no Python-worker dependency.

    Carter-Wegman double hashing: the shingle md5 digest is split into
    h1 (first 15 hex chars, 60 bits) and h2 (chars 17-30, 56 bits), and
    permutation p's hash is ``h1 + p*h2`` — ONE md5 per shingle instead of
    one per (shingle, permutation), measured ~2.5x faster at num_perm=8.
    ``h1 + p*h2 < 2^60 + 127*2^56 < 2^63`` so the arithmetic never
    overflows signed 64-bit on either engine (DuckDB would raise, Spark
    would silently wrap). The (h1, h2) pairs are materialized once per row
    and shared by all ``num_perm`` mins.

    ``impl``: ``'vectorized'`` (default under ``'auto'``) computes the
    whole signature per Arrow batch — ``hashlib.md5`` shingle hashing
    (byte-identical to Spark/DuckDB ``md5``) plus ONE
    ``np.minimum.reduceat`` pass per permutation over the batch's flat
    (h1, h2) arrays. The expression tier evaluates an INTERPRETED
    lambda per shingle for the md5, another for the (h1, h2) parse, and
    then ``num_perm`` MORE interpreted array passes per document for
    the mins — the measured bulk of every MinHash entry (guide §4.2).
    ``'expr'`` keeps the expression form, the structural twin of the
    DuckDB oracles; bit-equality of the tiers is pinned in tests."""
    if num_perm > 128:
        raise ValueError("num_perm > 128 would overflow the 63-bit budget")
    if impl not in ("auto", "vectorized", "expr"):
        raise ValueError(f"impl must be auto|vectorized|expr, got {impl!r}")
    if impl in ("auto", "vectorized"):
        return _minhash_signatures_vectorized(
            df, id_col, text_col, num_perm, shingle_size
        )
    paired = with_shingles(df, text_col, shingle_size).withColumn(
        "__hp",
        F.expr(
            f"transform({_SQL_SHINGLES}, s -> named_struct("
            "'h1', cast(conv(substring(s, 1, 15), 16, 10) as bigint),"
            "'h2', cast(conv(substring(s, 17, 14), 16, 10) as bigint)))"
        ),
    )
    sig = F.array(
        *[
            F.expr(f"array_min(transform(__hp, x -> x.h1 + {p} * x.h2))")
            for p in range(num_perm)
        ]
    )
    return paired.select(F.col(id_col).alias("doc_id"), sig.alias("minhash"))


def _minhash_signatures_vectorized(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int,
    shingle_size: int,
) -> DataFrame:
    """Arrow-batched twin of :func:`minhash_signatures`'s expression
    tier: identical shingling (single-space split, whole-text fallback
    under ``shingle_size`` tokens, NULL -> md5('')), identical
    h1/h2 split of the hex digest, identical ``min(h1 + p*h2)`` in
    int64 — asserted bit-equal in tests. Only the narrow
    (id, text) projection crosses the Python boundary."""
    import hashlib

    from pyspark.sql import types as T

    k = shingle_size
    id_field = df.select(F.col(id_col).alias("doc_id")).schema[0]

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            h1s: list[int] = []
            h2s: list[int] = []
            offsets = np.empty(len(pdf) + 1, dtype="i8")
            offsets[0] = 0
            for j, t in enumerate(pdf["__t"]):
                if t is None:
                    digs = [hashlib.md5(b"").hexdigest()]
                else:
                    toks = t.split(" ")
                    if len(toks) >= k:
                        digs = [
                            hashlib.md5(
                                " ".join(toks[i : i + k]).encode("utf-8")
                            ).hexdigest()
                            for i in range(len(toks) - k + 1)
                        ]
                    else:
                        digs = [hashlib.md5(t.encode("utf-8")).hexdigest()]
                h1s.extend(int(d[:15], 16) for d in digs)
                h2s.extend(int(d[16:30], 16) for d in digs)
                offsets[j + 1] = len(h1s)
            h1 = np.asarray(h1s, dtype="i8")
            h2 = np.asarray(h2s, dtype="i8")
            starts = offsets[:-1]
            sig = np.empty((len(pdf), num_perm), dtype="i8")
            for p in range(num_perm):
                sig[:, p] = np.minimum.reduceat(h1 + p * h2, starts)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["__id"],
                    "minhash": [row.tolist() for row in sig],
                }
            )

    schema = T.StructType(
        [
            T.StructField("doc_id", id_field.dataType, id_field.nullable),
            T.StructField("minhash", T.ArrayType(T.LongType())),
        ]
    )
    narrow = _spread_narrow_input(
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    )
    return narrow.mapInPandas(gen, schema)


# A bucket holding B docs contributes B^2/2 candidate pairs from ONE task —
# one viral/boilerplate document cluster can wedge the whole stage. Above
# the cap, a bucket is not self-joined all-pairs; its members are instead
# paired star-wise with the bucket's minimum doc id (the representative),
# which preserves duplicate-cluster connectivity (every member still reaches
# the representative) while bounding work per bucket to O(B).
_LSH_BUCKET_CAP = 1_000


def _band_buckets(
    signatures: DataFrame, bands: int, sig_len: int | None = None
) -> DataFrame:
    """Explode each MinHash signature into (doc_id, band, sig) bucket rows:
    the signature is cut into ``bands`` equal slices and each slice is
    serialized to a comma-joined string key.

    ``sig_len``: pass the known signature width (callers that built the
    signatures know ``num_perm``) to skip the fallback first()-peek —
    the peek is a whole extra Spark job per LSH call, and with the
    vectorized MinHash tier it spins a Python worker just to read one
    array length."""
    if sig_len is None:
        sig_len = signatures.selectExpr("size(minhash) AS n").first()["n"]
    rows_per_band = sig_len // bands
    band_rows = []
    for b in range(bands):
        start = b * rows_per_band + 1
        band_rows.append(
            F.struct(
                F.lit(b).alias("band"),
                F.expr(
                    f"concat_ws(',', transform(slice(minhash, {start}, {rows_per_band}),"
                    f" x -> cast(x as string)))"
                ).alias("sig"),
            )
        )
    return signatures.select(
        "doc_id", F.explode(F.array(*band_rows)).alias("bb")
    ).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.sig").alias("sig"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    bucket_cap: int = _LSH_BUCKET_CAP,
    sig_len: int | None = None,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` equal bands, bucket
    on (band index, band content), self-join buckets -> distinct candidate
    pairs (a < b).

    The self-join shuffles on the bucket key only; bucket sizes are the
    skew risk. Buckets larger than ``bucket_cap`` (a cluster of
    near-identical signatures IS the dup cluster) emit star pairs to the
    bucket representative instead of all pairs: O(B) instead of O(B^2),
    and a downstream connected-components/grouping step recovers the full
    cluster through the shared representative.
    """
    buckets = (
        _band_buckets(signatures, bands, sig_len)
        .withColumn(
            "b_size",
            F.count(F.lit(1)).over(Window.partitionBy("band", "sig")),
        )
        .withColumn(
            "b_rep",
            F.min("doc_id").over(Window.partitionBy("band", "sig")),
        )
    )
    small = buckets.filter(F.col("b_size") <= bucket_cap).select(
        "doc_id", "band", "sig"
    )
    left = small.alias("l")
    right = small.alias("r")
    all_pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
    )
    star_pairs = (
        buckets.filter(
            (F.col("b_size") > bucket_cap)
            & (F.col("doc_id") != F.col("b_rep"))
        )
        .select(
            F.col("b_rep").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
    )
    return all_pairs.unionByName(star_pairs).distinct()


def jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_size: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-set Jaccard over candidate pairs; keeps pairs at or
    above ``threshold``. The shingle arrays are recomputed per side — a
    projection, not a shuffle; the joins shuffle on doc ids only."""
    shingled = with_shingles(docs, text_col, shingle_size).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(F.col(_SQL_SHINGLES)).alias("sh"),
    )
    a = shingled.alias("a")
    b = shingled.alias("b")
    return (
        pairs.join(a, pairs["doc_a"] == F.col("a.doc_id"))
        .join(b, pairs["doc_b"] == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("a.sh", "b.sh"))
                / F.size(F.array_union("a.sh", "b.sh")),
                9,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_size: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """End-to-end fuzzy dedup: returns verified near-duplicate pairs
    (doc_a < doc_b, exact-Jaccard >= threshold) found via MinHash LSH.

    Signatures are materialized (checkpoint.materialize — reliable
    on a cluster with a checkpoint dir, local otherwise) before banding: the
    bucket self-join scans them twice and the band explode is a generator,
    so an unmaterialized plan re-runs the shingle/md5 pipeline ~2x bands
    times. At cluster scale this checkpoint is the signatures table you
    would persist anyway (8-16 longs per doc vs re-hashing the corpus)."""
    sigs = minhash_signatures(
        df, id_col, text_col, num_perm, shingle_size
    ).transform(materialize)
    pairs = lsh_candidate_pairs(sigs, bands, sig_len=num_perm)
    return jaccard_verify(pairs, df, id_col, text_col, shingle_size, threshold)


def incremental_lsh_neardup(
    base_docs: DataFrame,
    new_docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    shingle_size: int = 5,
    threshold: float = 0.8,
    base_sigs: DataFrame | None = None,
    new_sigs: DataFrame | None = None,
) -> DataFrame:
    """Incremental fuzzy dedup: near-dup pairs (exact-Jaccard >=
    ``threshold``) where AT LEAST ONE side is in ``new_docs`` — the daily
    ingest shape. base x base pairs are never recomputed (previous runs
    already emitted them), so per-batch cost scales with the batch, not
    the corpus.

    Pass ``base_sigs`` (a persisted ``minhash_signatures`` table) to skip
    re-hashing the base corpus entirely: the batch's band keys shuffle-join
    against the stored band table, and the exact-Jaccard verify re-reads
    only the candidate docs' text (a semi-join-sized lookup, not a scan).
    At 100 TB the signature store is 8-16 longs per doc and the band join
    partitions on (band, sig) — incremental dedup never touches cold
    corpus partitions except for the handful of verify candidates.
    """
    # sig_len is threaded ONLY for signatures built right here (their
    # width is num_perm by construction). A caller-supplied persisted
    # store may have been built with a different num_perm — assuming the
    # width would silently band a wrong/empty signature prefix and
    # degrade candidate recall — so those keep the one-row width peek.
    new_known, base_known = new_sigs is None, base_sigs is None
    if new_sigs is None:
        new_sigs = minhash_signatures(
            new_docs, id_col, text_col, num_perm, shingle_size
        ).transform(materialize)
    if base_sigs is None:
        base_sigs = minhash_signatures(
            base_docs, id_col, text_col, num_perm, shingle_size
        )
    nb = _band_buckets(
        new_sigs, bands, sig_len=num_perm if new_known else None
    )
    ab = _band_buckets(
        base_sigs, bands, sig_len=num_perm if base_known else None
    ).unionByName(nb)
    # left side = new batch only; right side = store + batch. Canonicalize
    # with least/greatest (a new doc may have a smaller id than a base
    # doc); distinct collapses new x new pairs seen from both directions.
    cands = (
        nb.alias("l")
        .join(
            ab.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col("l.doc_id") != F.col("r.doc_id")),
        )
        .select(
            F.least("l.doc_id", "r.doc_id").alias("doc_a"),
            F.greatest("l.doc_id", "r.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    corpus = base_docs.unionByName(new_docs)
    return jaccard_verify(
        cands, corpus, id_col, text_col, shingle_size, threshold
    )


# Above this row count the exact O(n^2)-per-block pair join (which
# broadcasts one full side) is refused and the LSH-banded path is taken
# instead: a full-corpus broadcast OOMs every executor at scale, and the
# quadratic pair space dwarfs any per-pair savings.
_MAX_EXACT_PAIR_ROWS = 100_000

# Below this row count the exact tier's 'auto' stays on the expression
# pair join: the vectorized candidate route pays a fixed ~1.3 s of
# grouped-map/join-back machinery, while the expr fold cost grows with
# the pair count (~n^2/blocks). Measured crossover (dim 16, 10 blocks,
# local[32], min-of-2 noop): 2k rows 0.88 vs 2.16 s, 10k 2.2 vs 2.65 s,
# 20k 4.8 vs 2.2 s — and at the 100k exact-tier cap the expr form is
# ~5e8 interpreted folds per block while the matmul stays seconds.
_VEC_EXACT_MIN_ROWS = 12_000


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    block_col: str | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT token-set Jaccard pairs via prefix filtering (the
    PPJoin-family candidate strategy — Chaudhuri et al.'s prefix
    filter, Xiao et al. PPJoin) — the third candidate-generation tier
    next to the blocked all-pairs join (quadratic, exact) and MinHash
    LSH (sub-quadratic, probabilistic recall): sub-quadratic AND
    provably complete, so the result is value-identical to the
    all-pairs tier.

    The theorem: order every token set by one GLOBAL order (ascending
    document frequency — rarest first — ties broken lexically) and keep
    only each set's first ``|x| - ceil(t|x|) + 1`` tokens as its
    PREFIX; any pair with ``J >= t`` must share at least one prefix
    token (if the prefixes were disjoint, the overlap is confined to
    the suffixes, which are too short to reach the required
    ``t/(1+t)(|a|+|b|)`` overlap). Candidates therefore come from a
    self-join on prefix tokens only — and because prefixes hold the
    RAREST tokens, candidate groups stay small exactly where a naive
    token-inverted-index join explodes (stopwords never land in a
    prefix unless a document consists of nothing else).

    Float safety: prefix lengths are computed at ``t - 1e-6`` so the
    9-dp-rounded emit filter (``round(j, 9) >= t``, the d02
    convention) can never admit a pair the candidate stage pruned; the
    slack only ever LENGTHENS prefixes (more candidates, never fewer).

    Shuffle inventory at 100 TB: one token-keyed df aggregation
    (map-side combined), one doc-keyed sort-assembly, one prefix-token
    self-join whose volume is the summed prefix lengths (a ~(1-t)
    fraction of the token stream), one pair distinct, one doc-keyed
    verify join. No quadratic stage over the corpus; the per-token
    candidate quadratic is bounded by prefix-token frequency.

    Output: ``(doc_a, doc_b, jaccard)`` — identical to the all-pairs
    tier (equality pinned in tests, plus a hypothesis battery that
    brute-forces random corpora).
    """
    tq = threshold - 1e-6
    # the token table feeds THREE consumers (the document-frequency agg
    # chain and both sides of the verify join) — materialize once so the
    # tokenize/array_distinct subtree is computed once, not three times
    # (optimization guide §2.4/§5: duplicated subtrees under self-joins)
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        (F.col(block_col) if block_col else F.lit(1)).alias("blk"),
        F.array_distinct(F.split(F.col(text_col), " ")).alias("tk"),
    ).withColumn("n", F.size("tk")).transform(materialize)
    # COST-BASED TIER ROUTE between two EXACT plans (the route changes
    # the plan, never the pairs): prefix filtering prunes by putting only
    # each set's RAREST tokens in the inverted index — but when the
    # vocabulary is not much larger than a typical document (stopword-only
    # corpora, enum-like columns), every token is frequent, prefixes
    # cannot be rare, and the candidate join degenerates to all-pairs
    # WITH an extra explode + join + distinct on top (measured at sf0.1's
    # 31-word vocabulary: 27.1M pre-distinct candidate rows vs 2.5M
    # blocked all-pairs rows — the "candidates" stage costs 10x the plan
    # it was supposed to avoid). Pigeonhole reading: a prefix holds
    # >= (1-t)·n tokens drawn from V, so when V <= ~4·avg(n) every token
    # lands in a constant fraction of prefixes and candidate volume is
    # Ω(n_docs²) regardless. In that regime the blocked all-pairs bitmask
    # join (the d02 exact tier) is the strictly cheaper exact plan; the
    # row cap keeps its broadcast side bounded exactly as d02 guards it.
    # One 2-value agg decides (count + mean doc size — map-side, no
    # shuffle of data); at a healthy vocabulary (V >> doc size) the
    # decision always picks the prefix path, which is the 100 TB shape.
    probe = toks.agg(
        F.count(F.lit(1)).alias("n_rows"), F.avg("n").alias("avg_n")
    ).first()
    n_rows, avg_n = int(probe["n_rows"]), float(probe["avg_n"] or 0.0)
    if 0 < n_rows <= _MAX_EXACT_PAIR_ROWS:
        v_count = int(
            toks.select(F.explode("tk").alias("t"))
            .agg(F.countDistinct("t").alias("v"))
            .first()["v"]
        )
        if 0 < v_count <= min(_BITMASK_VOCAB_CAP, 4 * avg_n):
            return _ngram_jaccard_exact(df, toks, threshold)
    dfreq = (
        toks.select(F.explode("tk").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("dfc"))
    )
    ranked = (
        toks.select("doc_id", "blk", "n", F.explode("tk").alias("tok"))
        .join(dfreq, "tok")
        .groupBy("doc_id", "blk", "n")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dfc, tok))),"
                " s -> s.tok)"
            ).alias("tk_sorted")
        )
    )
    prefixed = ranked.withColumn(
        "prefix",
        F.expr(
            f"slice(tk_sorted, 1, greatest(1, n - cast(ceil({tq} * n - 1e-9)"
            " as int) + 1))"
        ),
    ).select("doc_id", "blk", "n", F.explode("prefix").alias("tok"))
    # both sides of the candidate self-join are THIS subtree (dfreq join +
    # per-doc sort assembly) — materialize so it is computed once, not
    # twice under the a/b aliases
    prefixed = prefixed.transform(materialize)
    a, b = prefixed.alias("a"), prefixed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & _jaccard_length_filter(threshold),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = toks.select(
        F.col("doc_id").alias("doc_a"), F.col("tk").alias("tk_a"),
        F.col("n").alias("n_a"),
    )
    sb = toks.select(
        F.col("doc_id").alias("doc_b"), F.col("tk").alias("tk_b"),
        F.col("n").alias("n_b"),
    )
    inter = F.size(F.array_intersect("tk_a", "tk_b"))
    jac = inter / (F.col("n_a") + F.col("n_b") - inter)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 9).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 5,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Shingle-containment near-dup pairs: overlap coefficient
    ``|S_a ∩ S_b| / min(|S_a|, |S_b|)`` over distinct k-token shingle
    sets — the measure that catches a document EMBEDDED inside a longer
    one (quote-plus-commentary, page-plus-boilerplate), which symmetric
    Jaccard dilutes toward 0 as the host document grows. ``contained=1``
    marks full subset pairs (every shingle of the smaller doc appears in
    the larger).

    Shape: per-doc distinct shingle-md5 arrays (map-side), one explode,
    one self-join keyed on the shingle hash, one pair aggregation — the
    corpus pair space is never enumerated; only docs sharing at least
    one shingle meet. Exact mode (``max_shingle_df=None``, the oracle
    tier) runs no output-changing guard per the guards-vs-exactness mode
    rule. At 100 TB pass ``max_shingle_df`` to drop shingles appearing
    in more than that many documents before the self-join (boilerplate
    shingles generate quadratic bucket joins while carrying no
    discriminative signal) — an explicit recall trade for the
    approximate regime, mirroring the LSH tiers.

    Determinism: counts are exact integers; the overlap ratio is one
    integer division in IEEE double, identical across engines, rounded
    once for display while the threshold compares the raw value.
    """
    from pw_etl_scrumptious_squad_spark.operators.sketches import (
        shingle_occurrences,
    )

    # materialize the exploded per-doc-DISTINCT shingle stream ONCE
    # (hashed in Arrow batches — the y92 route — instead of the
    # interpreted per-shingle md5 lambda): it feeds BOTH sides of the
    # self-join below AND the per-doc set-size counts, and without the
    # barrier each consumer re-runs the hashing over the whole corpus
    # (the y76 shared-subtree lesson; guide §2.4 duplicated subtrees
    # under self-joins)
    ex = shingle_occurrences(
        df, text_col, shingle_size, keep_cols=(id_col,),
        distinct_within_row=True,
    ).select(
        F.col(id_col).alias("doc_id"), F.col("item").alias("h")
    ).transform(materialize)
    # |S_doc| = one count over the already-materialized distinct stream
    counts = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    if max_shingle_df is not None:
        light = (
            ex.groupBy("h")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") <= max_shingle_df)
            .select("h")
        )
        ex = ex.join(light, "h", "left_semi")
    a = ex.select(F.col("doc_id").alias("doc_a"), "h")
    b = ex.select(F.col("doc_id").alias("doc_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    lo = F.least("n_a", "n_b")
    overlap = F.col("inter") / lo
    return (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .filter(overlap >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("bigint").alias("n_shared"),
            F.round(overlap, 6).alias("overlap_coef"),
            (F.col("inter") == lo).cast("int").alias("contained"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    block_col: str | None = None,
    threshold: float = 0.5,
    max_exact_rows: int = _MAX_EXACT_PAIR_ROWS,
    num_perm: int = 16,
    bands: int = 8,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """Token-set Jaccard near-duplicate pairs with an enforced scale guard.

    At or below ``max_exact_rows`` input rows this is the exact blocked
    pair join (pairs share ``block_col``; O(block^2) pair space; one side
    broadcast to keep parallelism when the block count is tiny). Above the
    cap it automatically routes through token-set MinHash LSH banding:
    signatures -> band buckets -> bucket self-join -> exact-Jaccard verify
    of candidates only — no full-side broadcast, no quadratic pair space.
    The banded path is the 100 TB shape; its recall for a pair at Jaccard
    ``t`` is 1-(1-t^(num_perm/bands))^bands (>=0.9999 at t=0.9 with the
    defaults), and the verify stage keeps emitted pairs value-exact.

    ``n_rows_hint`` skips the path-picking ``count()``: counting a
    filtered/derived input at 100 TB is a full extra pass before any dedup
    work, and callers usually know the corpus size (catalog row counts,
    parquet footer statistics, an upstream count). The hint only picks the
    path — a wrong hint degrades performance, never correctness.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        (F.col(block_col) if block_col else F.lit(1)).alias("blk"),
        F.array_distinct(F.split(F.col(text_col), " ")).alias("tk"),
    ).withColumn("n", F.size("tk"))
    n_rows = n_rows_hint if n_rows_hint is not None else df.count()
    if n_rows > max_exact_rows:
        return _ngram_jaccard_lsh(toks, threshold, num_perm, bands)
    return _ngram_jaccard_exact(df, toks, threshold)


def _ngram_jaccard_lsh(
    toks: DataFrame, threshold: float, num_perm: int, bands: int
) -> DataFrame:
    """Scale path: MinHash-LSH candidates over token sets, then exact
    verify. Only bucket-mates are paired; the bucket self-join shuffles on
    the (band, signature) key — nothing is broadcast. Same Carter-Wegman
    double hashing as :func:`minhash_signatures` (one md5 per token)."""
    paired = toks.withColumn(
        "__hp",
        F.expr(
            "transform(tk, t -> named_struct("
            "'h1', cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint),"
            "'h2', cast(conv(substring(md5(t), 17, 14), 16, 10) as bigint)))"
        ),
    )
    sig = F.array(
        *[
            F.expr(f"array_min(transform(__hp, x -> x.h1 + {p} * x.h2))")
            for p in range(num_perm)
        ]
    )
    sigs = paired.select("doc_id", sig.alias("minhash")).transform(materialize)
    cands = lsh_candidate_pairs(sigs, bands, sig_len=num_perm)
    a = toks.select(
        F.col("doc_id").alias("doc_a"),
        F.col("blk").alias("blk_a"),
        F.col("tk").alias("tk_a"),
        F.col("n").alias("n_a"),
    )
    b = toks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("blk").alias("blk_b"),
        F.col("tk").alias("tk_b"),
        F.col("n").alias("n_b"),
    )
    inter = F.size(F.array_intersect("tk_a", "tk_b"))
    jac = F.round(inter / (F.col("n_a") + F.col("n_b") - inter), 9)
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.col("blk_a") == F.col("blk_b"))
        .filter(_jaccard_length_filter(threshold, "n_a", "n_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _ngram_jaccard_exact(
    df: DataFrame, toks: DataFrame, threshold: float
) -> DataFrame:
    """Exact blocked pair join (verification tier, guarded by
    ``max_exact_rows``).

    The block count is usually tiny (5 languages), which would starve a
    shuffle join down to that many tasks; broadcasting one side keeps
    parallelism at the left side's partition count. |union| is computed as
    |a|+|b|-|intersect| so only the intersection is materialized per pair.

    Adaptive small-vocabulary fast path: when the corpus has at most
    ``_BITMASK_VOCAB_CAP`` distinct tokens, each token SET is
    dictionary-encoded into ceil(V/64) 64-bit mask words and the per-pair
    Jaccard collapses to bitwise ANDs + popcounts
    (sum_w bit_count(a[w]&b[w]) / (|a|+|b|-inter)) — measured 5x faster
    than array_intersect on ~30-element arrays at V=31. The vocabulary
    probe is a single distinct-scan capped with LIMIT cap+1 (never
    collects more than cap+1 rows to the driver), a negligible pre-pass
    next to the O(block^2) pair stage; larger vocabularies fall back to
    the array path.
    """
    vocab = sorted(
        r[0]
        for r in toks.select(F.explode("tk").alias("t"))
        .distinct()
        .limit(_BITMASK_VOCAB_CAP + 1)
        .collect()
    )
    # tokens with quotes can't be embedded in the CASE literal, and Spark
    # string literals treat backslashes as escapes (a token containing one
    # would be silently mis-encoded, undercounting intersections) — fall back
    if len(vocab) <= _BITMASK_VOCAB_CAP and all(
        "'" not in w and "\\" not in w for w in vocab
    ):
        n_words = (len(vocab) + 63) // 64
        masks = []
        for w in range(n_words):
            sub = [
                (i % 64, t)
                for i, t in enumerate(vocab)
                if i // 64 == w
            ]
            branches = " ".join(
                f"WHEN '{t}' THEN {_bit_literal(b)}" for b, t in sub
            )
            masks.append(
                F.expr(
                    f"aggregate(transform(tk, t -> CASE t {branches}"
                    " ELSE 0L END), 0L, (a, x) -> a | x)"
                ).alias(f"m{w}")
            )
        side = toks.select("doc_id", "blk", "n", *masks)
        inter = F.bit_count(
            F.col("a.m0").bitwiseAND(F.col("b.m0"))
        )
        for w in range(1, n_words):
            inter = inter + F.bit_count(
                F.col(f"a.m{w}").bitwiseAND(F.col(f"b.m{w}"))
            )
    else:
        side = toks
        inter = F.size(F.array_intersect("a.tk", "b.tk"))
    # A small corpus arrives as one parquet file = one partition, and AQE
    # would coalesce a keyless repartition of 5k rows right back — the
    # expensive part is the post-join pair blow-up, which AQE can't see.
    # An explicit partition count is respected and spreads the quadratic
    # work across every core.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    a = side.repartition(n_parts, "doc_id").alias("a")
    b = F.broadcast(side.alias("b"))
    jac = F.round(inter / (F.col("a.n") + F.col("b.n") - inter), 9)
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & _jaccard_length_filter(threshold),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 32,
    bands: int = 8,
    max_hamming: int = 3,
    bucket_cap: int = _LSH_BUCKET_CAP,
) -> DataFrame:
    """SimHash near-duplicate pairs: (a < b, hamming(simhash_a, simhash_b)
    <= max_hamming), found by banding the simhash bits.

    EXACT, not approximate: with ``bands`` bands, two hashes differing in
    fewer than ``bands`` bits must agree on at least one whole band
    (pigeonhole), so requiring ``max_hamming < bands`` guarantees every
    qualifying pair shares a bucket. The bucket self-join is the only
    shuffle; the verify step is two bitwise ops per candidate.
    """
    sh = simhash(df, id_col, text_col, bits).transform(materialize)
    return hamming_near_pairs(
        sh, bits, bands, max_hamming, bucket_cap=bucket_cap
    )


def hamming_near_pairs(
    sig_df: DataFrame,
    bits: int,
    bands: int,
    max_hamming: int,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    bucket_cap: int = _LSH_BUCKET_CAP,
    star_identical: bool = False,
) -> DataFrame:
    """Banded hamming-distance pairs over ANY bigint bit-signature column
    (text SimHash, embedding SRP, ...): (a < b, hamming <= ``max_hamming``).
    EXACT by the pigeonhole guarantee — see ``simhash_near_pairs``. The
    bucket self-join is the only shuffle.

    Degenerate-corpus containment lives at the IDENTICAL-SIGNATURE-group
    level, not the band-bucket level: a corpus of thousands of identical
    or near-identical docs collapses to identical signatures, and such a
    group above ``bucket_cap`` emits star pairs to its minimum doc id
    (hamming 0) with only the representative entering the banding stage
    — O(B) instead of O(B^2), every member still reaches the
    representative, and a hamming-0 equivalence class loses nothing a
    downstream grouping/CC step can't reconstruct. Band buckets
    themselves are NOT capped here: with this scalar geometry (e.g. 32
    bits / 8 bands = 16 values per band) large band buckets arise on
    perfectly natural data, so capping them would silently drop
    qualifying pairs — exactly what an "exact" tier must not do. The
    narrow tier's band join does grow ~n^2/2^width per band; that is the
    documented reason the cluster-scale path is
    :func:`hamming_near_pairs_words` (wide signatures, selective bands),
    not a cap. Groups at or below ``bucket_cap`` leave output unchanged.

    ``star_identical=True`` collapses EVERY identical-signature group
    (any size >= 2) to star pairs, not just those above ``bucket_cap``
    — for consumers that need CONNECTIVITY, not the pair list
    (connected components / keep-canonical): a hamming-0 class's star
    has exactly the class's components, and near pairs between classes
    still connect through the representatives (class members share the
    rep's signature). This removes the quadratic window where a class
    sits just UNDER the cap and the exact tier dutifully emits its
    size^2/2 pairs — measured 133 s at 50k images (classes of ~500)
    vs 15 s at 500k (classes above the cap) on the round-7 image
    near-dup curve. Pair-list consumers (d07-style) keep the default.
    """
    if max_hamming >= bands:
        raise ValueError(
            "exactness needs max_hamming < bands (pigeonhole guarantee)"
        )
    if bits % bands != 0:
        raise ValueError("bits must divide evenly into bands")
    width = bits // bands
    mask = (1 << width) - 1
    sh = sig_df.select(
        F.col(id_col).alias("doc_id"), F.col(sig_col).alias("simhash")
    )
    star, survivors = _signature_group_containment(
        sh, "simhash", 1 if star_identical else bucket_cap
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.expr(f"(simhash >> {b * width}) & {mask}L").alias("val"),
            )
            for b in range(bands)
        ]
    )
    # The full signature (ONE long) rides along into the band join so
    # the hamming test runs INSIDE the join as a codegen'd predicate:
    # filtering before the pair distinct is value-identical (filter
    # commutes with distinct) but shrinks the distinct from the raw
    # candidate count (~n^2/2^width per band at this narrow geometry —
    # measured ~1M rows at sf0.1's 2000 embeddings) down to the OUTPUT
    # size, and deletes the two post-distinct signature attach joins
    # outright (guide §2.3/§2.4: shuffle fewer bytes, remove shuffles;
    # the extra 8 bytes per bucket row are far cheaper than re-joining
    # the signatures onto every surviving pair).
    buckets = survivors.select(
        "doc_id", "simhash", F.explode(band_structs).alias("bb")
    ).select(
        "doc_id",
        "simhash",
        F.col("bb.band").alias("band"),
        F.col("bb.val").alias("val"),
    )
    # Pin the band-join shuffle width (the r10 y77/y48 grouped-map
    # lesson, now on a join): the bucket rows are tiny in BYTES but the
    # self-join's per-key fan-out is quadratic in bucket size, and AQE
    # coalesces by bytes — measured at organic sf1 (20k embeddings,
    # 32-bit geometry) the whole ~100M-pair hamming join ran at an
    # 8-vs-32-core ratio of 1.06, i.e. serialized onto a handful of
    # coalesced partitions. REPARTITION_BY_NUM is exempt from
    # coalescing and the join reuses this exact hashpartitioning, so no
    # exchange is added; parallelism is still capped by the distinct
    # (band, val) count — the narrow geometry's documented limit.
    n_parts = buckets.sparkSession.sparkContext.defaultParallelism
    buckets = buckets.repartition(n_parts, "band", "val")
    ham = F.bit_count(
        F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
    )
    pairs = (
        buckets.alias("l")
        .join(
            buckets.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.doc_id") < F.col("r.doc_id"))
            & (ham <= max_hamming),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )
    return pairs.unionByName(
        star.select(
            "doc_a", "doc_b", F.lit(0).cast("int").alias("hamming")
        )
    )


def _banded_hamming_pairs(
    sh: DataFrame, band_structs, max_hamming: int
) -> DataFrame:
    """(doc_id, sw) rows -> distinct exact pairs
    ``(doc_a < doc_b, hamming <= max_hamming)`` with the word-array
    signature riding INTO the band self-join so the hamming test is a
    codegen'd join predicate (the scalar hamming_near_pairs shape):
    filtering before the pair distinct is value-identical (filter
    commutes with distinct) but shrinks the distinct to output size and
    deletes the two post-distinct signature attach joins (guide
    §2.3/§2.4). Measured on the scalar twin at sf0.1: y15 2.2 -> 1.25 s,
    d07 16.2 -> 7.4 s same-window A/B."""
    buckets = sh.select(
        "doc_id", "sw", F.explode(band_structs).alias("bb")
    ).select(
        "doc_id",
        "sw",
        F.col("bb.band").alias("band"),
        F.col("bb.val").alias("val"),
    )
    # pinned shuffle width against AQE byte-coalescing — see the scalar
    # hamming_near_pairs note (fan-out is quadratic per key, bytes tiny)
    n_parts = buckets.sparkSession.sparkContext.defaultParallelism
    buckets = buckets.repartition(n_parts, "band", "val")
    ham = F.expr(
        "aggregate(zip_with(l.sw, r.sw,"
        " (x, y) -> cast(bit_count(x ^ y) as bigint)),"
        " 0L, (acc, v) -> acc + v)"
    )
    return (
        buckets.alias("l")
        .join(
            buckets.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.doc_id") < F.col("r.doc_id"))
            & (ham <= max_hamming),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


def _band_pairs(buckets: DataFrame) -> DataFrame:
    """(doc_id, band, val) bucket rows -> distinct candidate (doc_a < doc_b)
    pairs, plain uncapped self-join — the exact-tier path (any containment
    has already happened upstream at the signature-group level)."""
    return (
        buckets.alias("l")
        .join(
            buckets.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _signature_group_containment(
    sh: DataFrame, sig_cols: str | list[str], cap: int
) -> tuple[DataFrame, DataFrame]:
    """Collapse oversized IDENTICAL-signature groups before banding.

    Returns ``(star, survivors)``: groups whose full signature repeats
    more than ``cap`` times emit star pairs ``(min_id, member)`` and send
    only the representative into banding; all other rows pass through
    untouched. This is where a degenerate corpus (thousands of identical
    or near-identical docs -> identical signatures) actually explodes —
    and the one place a star cover is lossless, because the members of a
    hamming-0 equivalence class are interchangeable for any downstream
    cluster/canonicalize step. One window shuffle on the signature."""
    cols = [sig_cols] if isinstance(sig_cols, str) else list(sig_cols)
    gw = Window.partitionBy(*cols)
    sized = sh.withColumn(
        "__g_size", F.count(F.lit(1)).over(gw)
    ).withColumn("__g_rep", F.min("doc_id").over(gw))
    star = sized.filter(
        (F.col("__g_size") > cap) & (F.col("doc_id") != F.col("__g_rep"))
    ).select(F.col("__g_rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    survivors = sized.filter(
        (F.col("__g_size") <= cap) | (F.col("doc_id") == F.col("__g_rep"))
    ).drop("__g_size", "__g_rep")
    return star, survivors


def _capped_band_pairs(buckets: DataFrame, bucket_cap: int) -> DataFrame:
    """(doc_id, band, val) bucket rows -> distinct candidate (doc_a < doc_b)
    pairs, with degenerate-bucket containment: buckets above ``bucket_cap``
    emit star pairs to the bucket's min doc id (O(B)) instead of the
    all-pairs self-join (O(B^2) in one task) — shared by the scalar and
    words-based hamming paths and mirroring ``lsh_candidate_pairs``."""
    sized = buckets.withColumn(
        "b_size", F.count(F.lit(1)).over(Window.partitionBy("band", "val"))
    ).withColumn(
        "b_rep", F.min("doc_id").over(Window.partitionBy("band", "val"))
    )
    small = sized.filter(F.col("b_size") <= bucket_cap).select(
        "doc_id", "band", "val"
    )
    all_pairs = (
        small.alias("l")
        .join(
            small.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
    )
    star_pairs = (
        sized.filter(
            (F.col("b_size") > bucket_cap)
            & (F.col("doc_id") != F.col("b_rep"))
        )
        .select(F.col("b_rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return all_pairs.unionByName(star_pairs).distinct()


def _word_slice_expr(start: int, width: int) -> str:
    """SQL expression extracting bits ``[start, start+width)`` of an
    ``array<bigint>`` column ``sw`` (little-endian words: bit j lives in
    word ``j // 64`` at offset ``j % 64``) as a non-negative bigint.
    Handles slices that straddle a word boundary; the mask after each
    shift neutralizes bigint sign-extension."""
    lo_word, lo_off = start // 64 + 1, start % 64
    if lo_off + width <= 64:
        return (
            f"((element_at(sw, {lo_word}) >> {lo_off})"
            f" & {(1 << width) - 1}L)"
        )
    lo_bits = 64 - lo_off
    hi_bits = width - lo_bits
    lo = (
        f"((element_at(sw, {lo_word}) >> {lo_off})"
        f" & {(1 << lo_bits) - 1}L)"
    )
    hi = (
        f"((element_at(sw, {lo_word + 1}) & {(1 << hi_bits) - 1}L)"
        f" << {lo_bits})"
    )
    return f"({lo} | {hi})"


# past roughly this many docs, 16-bit band values cross the birthday
# bound (expected random same-band collisions ~ n^2 / 2^17 per band
# come to dominate the real pair count) and the exact tier switches to
# the combinatorial geometry below PLUS the lossless identical-
# signature collapse. Threshold bracketed by measurement on the scale
# corpus: at 5k docs the direct plan wins (8.6 s vs 23 s — the
# collapse's two extra shuffles dominate), at 50k the combo+collapse
# plan wins 3x (21 s vs 66 s); the crossover interpolates to ~16k,
# rounded up for the fixed-overhead side.
_COMBO_GEOMETRY_MIN_ROWS = 20_000


def _combo_band_structs(bits: int, max_hamming: int) -> tuple:
    """Wide-value EXACT band geometry: Manku-style multi-index over piece
    pairs. Split the signature into ``p = max_hamming + 2`` pieces; a
    band is the concatenation of one piece PAIR, one band per C(p, 2)
    combination. Any pair of signatures within ``max_hamming`` differs
    in at most ``p - 2`` pieces, leaving >= 2 clean pieces — and the
    band for that exact piece pair matches, so recall stays 1.0
    (generalized pigeonhole). Band values are ~``2 * bits / p`` wide
    (128-bit sigs at h=7: 9 pieces, 36 bands of ~28-bit values), so
    random band collisions drop by ~2^12 vs 16-bit slices at the cost
    of 36 vs 8 explode rows per doc — the right trade past
    ``_COMBO_GEOMETRY_MIN_ROWS``.

    Returns ``(n_bands, band_structs_column)``.
    """
    p = max_hamming + 2
    widths = [bits // p + (1 if i < bits % p else 0) for i in range(p)]
    starts = [sum(widths[:i]) for i in range(p)]
    slices = [_word_slice_expr(starts[i], widths[i]) for i in range(p)]
    structs = []
    for i in range(p):
        for j in range(i + 1, p):
            if widths[i] + widths[j] > 63:
                raise ValueError(
                    "combo band value would overflow a positive bigint;"
                    " raise max_hamming (more, narrower pieces)"
                )
            structs.append(
                F.struct(
                    F.lit(len(structs)).alias("band"),
                    F.expr(
                        f"{slices[i]} | ({slices[j]} << {widths[i]})"
                    ).alias("val"),
                )
            )
    return len(structs), F.array(*structs)


def hamming_near_pairs_words(
    sig_df: DataFrame,
    bits: int,
    bands: int,
    max_hamming: int,
    id_col: str = "doc_id",
    sig_col: str = "srp_words",
    bucket_cap: int = _LSH_BUCKET_CAP,
    exact: bool = True,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """Banded hamming-distance pairs over an ``array<bigint>`` word
    signature (>=128-bit SRP, wide SimHash): the cluster-scale variant of
    :func:`hamming_near_pairs`, whose scalar bigint caps signatures at 64
    bits. Wide signatures are what keep band selectivity growing with the
    corpus (16-32-bit band slices = 65k-4B bucket values per band), so
    the bucket join never degenerates the way narrow signatures do at
    large n. Bucket self-join is the only shuffle.

    Guards and exactness are mutually exclusive, BY MODE: with
    ``exact=True`` the output is the full pigeonhole-guaranteed pair set
    and NO output-changing containment runs — a dense natural near-dup
    cluster can push a band bucket past any fixed cap (observed on real
    text at sf0.1: a capped bucket silently dropped 765 qualifying
    pairs), and "exact minus whatever the guard ate" is not exact. The
    exact tier DOES collapse identical signatures losslessly before
    banding (band-join over DISTINCT signatures, expand qualifying
    signature pairs back to doc pairs): identical signatures match in
    every band, so raw banding multiplies each dup group's quadratic
    join work by the band count — the distinct-first plan pays it once
    per signature pair, and the expansion cost is the emitted output
    itself. With ``exact=False`` (the production wide-band regime,
    already trading recall) both guards run: oversized
    IDENTICAL-signature groups star-collapse before banding (lossless —
    hamming-0 classes), and band buckets above ``bucket_cap`` are
    star-capped.

    With ``exact=True`` (default) the pigeonhole guarantee applies:
    ``max_hamming < bands`` is enforced and EVERY qualifying pair is
    found. ``exact=False`` is the production SRP-LSH regime — wide bands
    (high selectivity) with a verify threshold above the band count:
    recall < 1 (a qualifying pair may differ in every band), but every
    EMITTED pair is still exact-verified, and the whole pipeline remains
    deterministic, so a value-exact oracle of the pipeline still exists
    (same argument as MinHash-LSH's d05).

    Band ``b`` is the ``width``-bit slice starting at bit ``b*width``;
    ``width`` must divide 64 so a band never straddles a word boundary.

    GEOMETRY AUTO-WIDENING (exact tier): the disjoint-slice geometry's
    band values are ``bits/bands`` wide (16 bits at the 128/8 default),
    and random same-band collisions grow as ``n^2 / 2^(width+1)`` per
    band — collision-quadratic past ~1e5 docs. When ``n_rows_hint``
    (same contract as :func:`embedding_neardup_pairs`: a wrong hint
    degrades performance, never values) exceeds the birthday bound
    ``_COMBO_GEOMETRY_MIN_ROWS``, the exact tier switches to the
    combinatorial piece-pair geometry (:func:`_combo_band_structs`),
    whose ~28-bit band values push the collision quadratic past 1e7
    docs while keeping recall 1.0 by generalized pigeonhole. The
    emitted pair set is IDENTICAL either way — only candidate
    generation changes.
    """
    if exact and max_hamming >= bands:
        raise ValueError(
            "exactness needs max_hamming < bands (pigeonhole guarantee);"
            " pass exact=False for the approximate wide-band LSH regime"
        )
    sh = sig_df.select(
        F.col(id_col).alias("doc_id"), F.col(sig_col).alias("sw")
    )
    use_combo = (
        exact
        and n_rows_hint is not None
        and n_rows_hint > _COMBO_GEOMETRY_MIN_ROWS
    )
    if use_combo:
        _, band_structs = _combo_band_structs(bits, max_hamming)
    else:
        if bits % bands != 0:
            raise ValueError("bits must divide evenly into bands")
        width = bits // bands
        if 64 % width != 0:
            raise ValueError("band width (bits // bands) must divide 64")
        mask = (1 << width) - 1
        band_structs = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.expr(
                        f"(element_at(sw, {(b * width) // 64 + 1})"
                        f" >> {(b * width) % 64}) & {mask}L"
                    ).alias("val"),
                )
                for b in range(bands)
            ]
        )
    ham = F.expr(
        "aggregate(zip_with(wa, wb,"
        " (x, y) -> cast(bit_count(x ^ y) as bigint)),"
        " 0L, (acc, v) -> acc + v)"
    )
    if exact and use_combo:
        # LOSSLESS identical-signature collapse (the exact twin of the
        # approximate tier's star-cover), gated by the SAME n_rows_hint
        # threshold as the combo geometry: band the DISTINCT signatures
        # only, then expand qualifying signature pairs back to doc
        # pairs. Identical signatures match in EVERY band, so banding
        # the raw corpus multiplies each dup group's quadratic join
        # work by the band count (36 under the combo geometry) and
        # pushes the 36x-redundant candidate mass through
        # _band_pairs' distinct() — the dominant x100 cost the scaling
        # curve exposed; distinct-first does that work once per
        # signature PAIR, and the expansion is proportional to the
        # emitted output, which exact mode owes anyway. Below the
        # threshold the two extra shuffles (groupBy + members join)
        # cost more than the redundancy they remove, so small corpora
        # keep the direct plan. Values are identical either way:
        # hamming depends only on the signatures, and within-group
        # pairs are hamming-0 by definition.
        reps = sh.groupBy("sw").agg(F.min("doc_id").alias("doc_id"))
        members = sh.join(
            reps.select(F.col("doc_id").alias("rep"), "sw"), "sw"
        ).select("rep", "doc_id")
        rep_pairs = _banded_hamming_pairs(
            reps.select("doc_id", "sw"), band_structs, max_hamming
        )
        ma = members.select(
            F.col("rep").alias("doc_a"), F.col("doc_id").alias("ida")
        )
        mb = members.select(
            F.col("rep").alias("doc_b"), F.col("doc_id").alias("idb")
        )
        cross = (
            rep_pairs.join(ma, "doc_a")
            .join(mb, "doc_b")
            .select(
                F.least("ida", "idb").alias("doc_a"),
                F.greatest("ida", "idb").alias("doc_b"),
                "hamming",
            )
        )
        within = (
            members.alias("x")
            .join(
                members.alias("y"),
                (F.col("x.rep") == F.col("y.rep"))
                & (F.col("x.doc_id") < F.col("y.doc_id")),
            )
            .select(
                F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
                F.lit(0).cast("int").alias("hamming"),
            )
        )
        return cross.unionByName(within)
    if exact:
        return _banded_hamming_pairs(sh, band_structs, max_hamming)
    star, survivors = _signature_group_containment(sh, "sw", bucket_cap)
    buckets = survivors.select(
        "doc_id", F.explode(band_structs).alias("bb")
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.val").alias("val")
    )
    cands = _capped_band_pairs(buckets, bucket_cap)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sw").alias("wa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sw").alias("wb"))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .unionByName(
            star.select(
                "doc_a", "doc_b", F.lit(0).cast("int").alias("hamming")
            )
        )
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.3,
    max_exact_rows: int = _MAX_EXACT_PAIR_ROWS,
    n_cells: int | None = None,
    n_rows_hint: int | None = None,
    impl: str = "auto",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a < b, round(cosine, 6) >=
    threshold), optionally blocked on ``block_col`` (cluster/label id) —
    with an enforced scale guard.

    Each vector is L2-normalized ONCE per row before the pair join, so the
    per-pair work is a single dot product (no norms in the quadratic stage).
    At or below ``max_exact_rows`` the pair join broadcasts one side (block
    counts are usually tiny, which would starve a shuffle join). Above the
    cap the corpus is first routed through IVF cell assignment
    (deterministically sampled centroids; ``n_cells`` defaults to
    rows/2k — cells sized for the O(cell^2) pair stage, see inline
    note) and the pair join shuffles on (block, cell) — block sizes
    stay bounded and nothing is broadcast except the tiny centroid set.
    The cell path is approximate (cross-cell pairs are not compared), the
    standard IVF trade; emitted pairs remain value-exact — its numpy
    rounding is HALF_UP like the exact tier's ``F.round`` (valid for the
    positive thresholds near-dup uses; see inline note), and degenerate
    vectors (NULL / zero-norm) are filtered before the tier split so
    both routes agree on them.

    ``n_rows_hint`` skips the path-picking ``count()`` (a full extra pass
    over a derived input at scale) and also sizes the default cell count;
    a wrong hint degrades performance, never pair values. The cell route
    additionally materializes the sampled centroid set at BUILD time
    (one tiny sort+limit+collect job — k x dim floats to the driver);
    the exact tier stays fully lazy.

    ``impl`` selects the EXACT tier's scoring engine (the cell route is
    unaffected). ``'expr'`` is the broadcast self-join whose per-pair
    cosine is an interpreted ``aggregate(zip_with(...))`` fold — the
    DuckDB oracle's structural twin. ``'vectorized'`` (where ``'auto'``
    routes when the id column is integral AND the row count exceeds
    ``_VEC_EXACT_MIN_ROWS`` — measured at sf0.1/2k rows the grouped-map
    machinery's fixed cost exceeds the whole expr query, 2.16 s vs
    0.88 s, while the expr fold cost grows ~n^2/blocks and dominates
    long before the 100k exact-tier cap) finds CANDIDATE pairs with
    chunked numpy matmuls in an Arrow grouped map (guide §4.2) at a safe
    threshold margin, then computes the EMITTED cosine of the few
    survivors with the identical fold expression — so output values are
    bit-identical to the expr tier by construction (same expression,
    same rows: a pair whose expression-rounded cosine reaches the
    threshold has a raw dot within 1 ulp of the numpy dot, far inside
    the 1e-6 candidate margin; NaN dots — Inf-element vectors — are kept
    as candidates because Spark's comparator treats NaN as
    greater-than-everything). Mixed-width vectors never pair in either
    tier (``zip_with`` NULL-pads, so the fold is NULL), which the
    candidate stage mirrors by grouping on the vector width.

    The vectorized tier runs a pandas UDF, so it needs pandas, numpy and
    pyarrow on the executors (Spark's own requirements for Arrow UDFs);
    ``'auto'`` does not probe for them. On executors without them, pass
    ``impl='expr'``: the JVM-only exact tier, same output. (The cell
    route above ``max_exact_rows`` is pandas-based whatever ``impl``.)
    """
    if impl not in ("auto", "vectorized", "expr"):
        raise ValueError(f"impl must be auto|vectorized|expr, got {impl!r}")
    # hoist the norm into its own column — computing it inside the
    # transform() lambda would redo the O(dim) sum for every element
    unit = (
        df.select(
            F.col(id_col).alias("doc_id"),
            (F.col(block_col) if block_col else F.lit(1)).alias("blk"),
            F.col(vec_col).cast("array<double>").alias("dv"),
        )
        .withColumn(
            "nrm",
            F.sqrt(
                F.aggregate(
                    F.transform("dv", lambda v: v * v),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            ),
        )
        # degenerate guard, applied BEFORE the tier split so both routes
        # agree: a NULL embedding or zero-norm vector has no defined
        # cosine (Spark's div-by-zero yields NaN, which its comparators
        # treat as greater-than-everything, while numpy's NaN >= thr is
        # False — the tiers would diverge). Neither can be a near-dup;
        # drop them from pairing. (NULL nrm fails the > 0 predicate.)
        .filter(F.col("nrm") > 0)
        .select(
            "doc_id",
            "blk",
            F.transform("dv", lambda x: x / F.col("nrm")).alias("uv"),
        )
    )
    n_rows = n_rows_hint if n_rows_hint is not None else df.count()
    if n_rows > max_exact_rows:
        from pw_etl_scrumptious_squad_spark.operators import similarity

        # cell size ~2k vectors: the pair stage does O(cell^2) work PER
        # CELL and parallelizes across cells only (the join key is the
        # cell id, and AQE coalesces by shuffle BYTES, blind to join
        # fan-out) — measured at 200k vectors, rows/10k cells gave a
        # 20-key join that ran 14 tasks for 10^9 pair-dots while 30
        # cores idled. rows/2k gives 25x less pair work per cell and
        # 5x more cells to spread it over; recall trades down the
        # standard IVF way (more cells = more cross-cell misses).
        k = n_cells or max(16, n_rows // 2_000)
        # deterministic pseudo-random centroid sample: order by md5 of the
        # id so the choice is stable across runs and engines
        cents = (
            # NULL embeddings are excluded from pairing by the guard
            # above; they must not become centroids either (np.stack
            # can't hold them). Zero-norm centroids are harmless — the
            # norm clamp below keeps their unit rows finite.
            df.select(F.col(id_col), F.col(vec_col))
            .where(F.col(vec_col).isNotNull())
            .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
            .limit(k)
            .select(
                F.row_number()
                .over(Window.orderBy(id_col))
                .cast("int")
                .alias("centroid_id"),
                F.col(vec_col),
            )
        )
        # assignment is BLAS too: the expression-fold form
        # (assign_ivf_cells) is O(n * k) interpreted folds, and with
        # k ~ n/2000 that is O(n^2/2000) — measured alpha 1.76 on the
        # x10→x100 scaling curve before this. The centroid matrix is
        # driver-tiny (k x dim floats); broadcast it into a mapInPandas
        # argmax over one normalized matmul per Arrow batch. np.argmax
        # takes the FIRST max, and rows are ordered by ascending cell
        # id, so ties break to the lowest cell — same rule as the fold.
        import numpy as np

        cent_rows = cents.orderBy("centroid_id").collect()
        cmat = np.stack(
            [np.asarray(r[1], dtype="f8") for r in cent_rows]
        )
        cnorm = np.sqrt((cmat * cmat).sum(axis=1))
        cnorm[cnorm == 0.0] = 1.0
        cmat = cmat / cnorm[:, None]
        cell_ids = np.asarray([r[0] for r in cent_rows], dtype="i4")

        def _assign(parts):
            for pdf in parts:
                if len(pdf) == 0:
                    continue
                m = np.stack(pdf["uv"].to_numpy())
                pdf = pdf.assign(cell=cell_ids[np.argmax(m @ cmat.T, axis=1)])
                yield pdf

        from pyspark.sql import types as T

        side_schema = T.StructType(
            list(unit.schema.fields)
            + [T.StructField("cell", T.IntegerType())]
        )
        side = unit.mapInPandas(_assign, side_schema)
        # dense within-cell all-pairs is the textbook BLAS case: one
        # Arrow batch per (blk, cell) group, one numpy matmul for the
        # whole cell's cosine matrix. The SQL-fold alternative (zip_with
        # + aggregate per pair) measured ~32 us/pair/core — a 2k-vector
        # cell is 2e6 pairs, ~0.02 s as a matmul vs ~60 core-seconds as
        # folds. Cells are sized ~2k (see above), so the S matrix is
        # ~32 MB peak per group — bounded, executor-friendly.
        thr = float(threshold)

        def _cell_pairs(pdf):
            import numpy as np
            import pandas as pd

            pdf = pdf.sort_values("doc_id")
            ids = pdf["doc_id"].to_numpy()
            m = np.stack(pdf["uv"].to_numpy())
            # HALF_UP 6-dp rounding to match the exact tier's F.round
            # (np.round is half-to-even; a cosine on a 5e-7 midpoint
            # would flip keep/drop between tiers). floor(x*1e6+0.5)/1e6
            # equals HALF_UP for the non-negative cosines that can reach
            # a positive threshold; sub-threshold negatives never emit.
            s = np.floor((m @ m.T) * 1e6 + 0.5) / 1e6
            iu, ju = np.triu_indices(len(ids), k=1)
            keep = s[iu, ju] >= thr
            return pd.DataFrame(
                {
                    "doc_a": ids[iu[keep]],
                    "doc_b": ids[ju[keep]],
                    "cosine_sim": s[iu, ju][keep],
                }
            )

        return side.groupBy("blk", "cell").applyInPandas(
            _cell_pairs, "doc_a long, doc_b long, cosine_sim double"
        )
    if impl == "auto":
        id_type = dict(df.dtypes).get(id_col)
        impl = (
            "vectorized"
            if n_rows > _VEC_EXACT_MIN_ROWS
            and id_type in ("tinyint", "smallint", "int", "bigint")
            else "expr"
        )
    if impl == "vectorized":
        return _embedding_neardup_exact_vectorized(unit, threshold, n_rows)
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    a = unit.repartition(n_parts, "doc_id").alias("a")
    b = F.broadcast(unit.alias("b"))
    cond = (F.col("a.blk") == F.col("b.blk")) & (
        F.col("a.doc_id") < F.col("b.doc_id")
    )
    cos = F.round(
        F.aggregate(
            F.zip_with("a.uv", "b.uv", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            cos.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def _embedding_neardup_exact_vectorized(
    unit: DataFrame, threshold: float, n_rows: int
) -> DataFrame:
    """Exact-tier scoring with the quadratic stage as numpy matmuls
    (guide §4.2, the y48/_cell_pairs pattern) while keeping the expr
    tier's emitted values BIT-IDENTICAL (guide §8: decide on the compact
    representation, compute the published value once on the survivors).

    Stage 1 — candidates: rows are hash-chunked within their block
    (chunks sized ~1k so one task's similarity matrix stays ~8 MB and
    the work spreads over chunk PAIRS, not blocks — a single huge block
    cannot serialize the stage); every (block, width, chunk-pair) group
    computes its raw cosine matrix with one BLAS matmul and emits only
    the distinct (block, width, doc_a < doc_b) keys whose raw dot clears
    ``threshold - 1e-6`` (or is NaN — Spark's NaN-is-greatest comparator
    semantics); rows that share a ``doc_id`` never pair, as in the expr
    tier. The
    margin is loose by ~1e-6 while fold-vs-BLAS summation differs by
    ~1 ulp, so no qualifying pair can be missed; false candidates are
    dropped by the exact filter below.

    Stage 2 — values: the surviving keys (output-sized, not
    pair-count-sized) join their unit vectors back on (block, width,
    id), so duplicate ids yield the expr tier's row pairs, and the emitted
    ``cosine_sim`` is the SAME ``round(aggregate(zip_with(...)), 6)``
    expression the expr tier (and the DuckDB oracle's structural twin)
    evaluates — bit-identical outputs by construction.

    Builds lazily: no job runs until an action (the n_rows_hint
    contract)."""
    import math

    from pyspark.sql import types as T

    spark = unit.sparkSession
    n_chunks = max(1, min(64, math.ceil(max(n_rows, 1) / 1024)))
    # a NULL block or id pairs with nothing in the expr tier's join
    side = unit.where(
        F.col("blk").isNotNull() & F.col("doc_id").isNotNull()
    ).select(
        "doc_id",
        "blk",
        "uv",
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_chunks))
        .cast("int")
        .alias("__c"),
        F.size("uv").alias("__w"),
    )
    chunk_pairs = spark.createDataFrame(
        [(i, j) for i in range(n_chunks) for j in range(i, n_chunks)],
        "ci INT, cj INT",
    )
    left = side.join(
        F.broadcast(chunk_pairs), side["__c"] == chunk_pairs["ci"]
    ).select("blk", "__w", "ci", "cj", "doc_id", "uv", F.lit(0).alias("__s"))
    right = side.join(
        F.broadcast(chunk_pairs.filter(F.col("ci") != F.col("cj"))),
        side["__c"] == chunk_pairs["cj"],
    ).select("blk", "__w", "ci", "cj", "doc_id", "uv", F.lit(1).alias("__s"))
    tagged = left.unionByName(right)

    lo = float(threshold) - 1e-6

    def _cands(pdf):
        import numpy as np
        import pandas as pd

        def _pairs(xa, xb):
            # rows that share a doc_id hash to the same chunk, so only the
            # diagonal can pair them: drop those (the expr tier's strict
            # a.doc_id < b.doc_id) and emit each id pair once — the join
            # back below re-expands it to every row pair of the two ids
            pairs = pd.DataFrame(
                {"doc_a": np.minimum(xa, xb), "doc_b": np.maximum(xa, xb)},
                dtype="int64",
            )
            pairs = pairs[pairs["doc_a"] != pairs["doc_b"]].drop_duplicates()
            return pairs.assign(blk=pdf["blk"].iloc[0], __w=pdf["__w"].iloc[0])

        if pdf["__w"].iloc[0] == 0:
            return _pairs([], [])
        if int(pdf["ci"].iloc[0]) == int(pdf["cj"].iloc[0]):
            ids = pdf["doc_id"].to_numpy()
            m = np.stack(pdf["uv"].to_numpy())
            s = m @ m.T
            iu, ju = np.triu_indices(len(ids), k=1)
            sv = s[iu, ju]
            keep = (sv >= lo) | np.isnan(sv)
            return _pairs(ids[iu[keep]], ids[ju[keep]])
        a = pdf[pdf["__s"] == 0]
        b = pdf[pdf["__s"] == 1]
        if len(a) == 0 or len(b) == 0:
            return _pairs([], [])
        ia = a["doc_id"].to_numpy()
        ib = b["doc_id"].to_numpy()
        s = np.stack(a["uv"].to_numpy()) @ np.stack(b["uv"].to_numpy()).T
        keep = (s >= lo) | np.isnan(s)
        ii, jj = np.nonzero(keep)
        return _pairs(ia[ii], ib[jj])

    cands = tagged.groupBy("blk", "__w", "ci", "cj").applyInPandas(
        _cands, T.StructType(
            [
                T.StructField("doc_a", T.LongType()),
                T.StructField("doc_b", T.LongType()),
                side.schema["blk"],
                side.schema["__w"],
            ]
        )
    )
    # (block, width, id) keys the join back: a pair is scored for every
    # row pair of its two ids within its block, as in the expr tier
    ua = side.select(
        "blk", "__w", F.col("doc_id").alias("doc_a"), F.col("uv").alias("uv_a")
    )
    ub = side.select(
        "blk", "__w", F.col("doc_id").alias("doc_b"), F.col("uv").alias("uv_b")
    )
    cos = F.round(
        F.aggregate(
            F.zip_with("uv_a", "uv_b", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    id_type = unit.schema["doc_id"].dataType
    return (
        cands.join(F.broadcast(ua), ["blk", "__w", "doc_a"])
        .join(F.broadcast(ub), ["blk", "__w", "doc_b"])
        .select(
            F.col("doc_a").cast(id_type).alias("doc_a"),
            F.col("doc_b").cast(id_type).alias("doc_b"),
            cos.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def simhash(
    df: DataFrame, id_col: str, text_col: str = "text", bits: int = 32
) -> DataFrame:
    """SimHash over tokens: per-token 60-bit md5-derived hash, majority vote
    per bit position, packed into a ``bits``-wide bigint.

    explode + single hash-agg (sum of +-1 per bit) — one shuffle on the doc
    id; the bit loop is plan-time code generation of ``bits`` aggregate
    expressions, all JVM-side."""
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("t"),
    ).withColumn(
        "h",
        F.expr("cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)"),
    )
    votes = [
        F.sum(
            F.when(F.expr(f"(h >> {i}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    packed = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        term = F.shiftleft(bit, i)
        packed = term if packed is None else packed + term
    return agg.select("doc_id", packed.alias("simhash"))


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node connects its strictly-larger
    neighbors to the minimum of its closed neighborhood. Input edges
    are directed (src > dst); output keeps that orientation but MAY
    CONTAIN DUPLICATES — the window min is duplicate-insensitive and
    the sole consumer (:func:`_small_star`) ends in a distinct, so the
    dedup shuffle this round used to pay bought nothing (round-10
    guide §2.4: remove shuffles outright)."""
    both = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    w = Window.partitionBy("src")
    return (
        both.withColumn("m", F.least(F.col("src"), F.min("dst").over(w)))
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: every node connects its smaller-or-equal
    neighbors (and itself) to its minimum neighbor. Requires and
    preserves the src > dst orientation."""
    w = Window.partitionBy("src")
    with_min = edges.withColumn("m", F.min("dst").over(w))
    relinked = with_min.filter(F.col("dst") != F.col("m")).select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    self_link = with_min.select("src", F.col("m").alias("dst"))
    return relinked.unionByName(self_link).distinct()


def simhash_words(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 128,
    impl: str = "auto",
) -> DataFrame:
    """Wide SimHash as an ``array<bigint>`` of 64-bit words — the text
    twin of :func:`similarity.srp_signature_words`, for the same reason:
    32-bit signatures give bands only 2^(32/bands) bucket values, so the
    banded join degenerates as the corpus grows; 128+ bits sliced into
    8-32-bit bands keep bucket selectivity growing with n. Pairs come
    from :func:`hamming_near_pairs_words`.

    Per-token hashing is md5-derived like :func:`simhash` but pays ONE
    md5 per token: md5 already yields 128 bits, sliced as 60+60+8 (hex
    substrings 1-15, 16-30, 31-32; ``conv`` caps at 60 bits per slice) —
    vote ``j`` reads bit ``j % 60`` of slice ``j // 60``. One explode +
    one hash-agg of ``bits`` majority votes — the same single doc-id
    shuffle as the scalar tier, all JVM-side. Engine-reproducible: any
    SQL engine with md5 + hex-to-int recovers the identical planes.

    ``impl``: ``'vectorized'`` (default under ``'auto'``) computes the
    whole signature per document inside one Arrow-batched numpy pass —
    NO explode and NO shuffle at all (the expression path shuffles the
    exploded token stream to aggregate ``bits`` vote columns). Measured
    1.7x faster at 128 bits on sf0.1 (2.0 s vs 3.3 s steady-state — the
    per-token Python md5 keeps it from the 9x the SRP matmul gets) and
    bit-identical to ``'expr'`` (both integer-exact; asserted in
    tests), so the choice is operational; ``'expr'`` remains the
    structural twin of the DuckDB oracle."""
    if bits % 64 != 0 or bits > 128:
        raise ValueError(
            "wide simhash needs bits in {64, 128} (one md5 per token)"
        )
    if impl not in ("auto", "vectorized", "expr"):
        raise ValueError(f"impl must be auto|vectorized|expr, got {impl!r}")
    if impl in ("auto", "vectorized"):
        return _simhash_words_vectorized(df, id_col, text_col, bits)
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("t"),
    ).withColumn("m", F.md5("t"))
    for c, (start, length) in enumerate([(1, 15), (16, 15), (31, 2)]):
        tok = tok.withColumn(
            f"h{c}",
            F.expr(
                f"cast(conv(substring(m, {start}, {length}), 16, 10)"
                " as bigint)"
            ),
        )
    votes = [
        F.sum(
            F.when(
                F.expr(f"(h{j // 60} >> {j % 60}) & 1") == 1, F.lit(1)
            ).otherwise(F.lit(-1))
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    words = []
    for w in range(bits // 64):
        word = None
        for j in range(w * 64, (w + 1) * 64):
            bit = F.when(
                F.col(f"v{j}") > 0,
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {j - w * 64})"),
            ).otherwise(F.lit(0).cast("bigint"))
            word = bit if word is None else word.bitwiseOR(bit)
        words.append(word)
    return agg.select("doc_id", F.array(*words).alias("simhash_words"))


def _simhash_words_vectorized(
    df: DataFrame, id_col: str, text_col: str, bits: int
) -> DataFrame:
    """Arrow-batched implementation of :func:`simhash_words`: per batch,
    hash the distinct tokens of every document once (hashlib.md5 —
    byte-identical to Spark/DuckDB ``md5``), expand the 60+60+8 hash
    slices to a token x bits bit-matrix in numpy, segment-sum the ±1
    votes per document (``np.add.reduceat``), sign, pack. Bit-identical
    to the expression path; NULL texts are dropped exactly like
    ``explode`` drops them there."""
    import numpy as np

    def gen(batches):
        import hashlib

        import pandas as pd

        empty = pd.DataFrame({"doc_id": [], "simhash_words": []})
        for pdf in batches:
            pdf = pdf[pdf[text_col].notna()]
            if len(pdf) == 0:
                yield empty
                continue
            tok_lists = [
                list(dict.fromkeys(t.split(" "))) for t in pdf[text_col]
            ]
            counts = np.array([len(ts) for ts in tok_lists])
            # md5 once per DISTINCT token in the batch, then gather by
            # index: token frequency is Zipfian, so the per-occurrence
            # hash cost (the profile's hot spot) collapses to the
            # vocabulary size. Bit-identical — same hashes, indexed.
            vocab: dict = {}
            idx = []
            for ts in tok_lists:
                for t in ts:
                    j = vocab.get(t)
                    if j is None:
                        j = len(vocab)
                        vocab[t] = j
                    idx.append(j)
            idx_arr = np.array(idx, dtype=np.int64)
            hx = [hashlib.md5(t.encode()).hexdigest() for t in vocab]
            cols = []
            for lo, hi, width in ((0, 15, 60), (15, 30, 60), (30, 32, 8)):
                hv = np.array(
                    [int(x[lo:hi], 16) for x in hx], dtype=np.uint64
                )
                h = hv[idx_arr]
                cols.append(
                    (
                        (h[:, None] >> np.arange(width, dtype=np.uint64))
                        & np.uint64(1)
                    ).astype(np.int32)
                )
            bitmat = np.concatenate(cols, axis=1)[:, :bits]
            offsets = np.concatenate([[0], np.cumsum(counts)[:-1]])
            votes = np.add.reduceat(2 * bitmat - 1, offsets, axis=0)
            pos = votes > 0
            packed = []
            for w in range(bits // 64):
                chunk = pos[:, w * 64 : (w + 1) * 64]
                word = np.zeros(len(pos), dtype=np.uint64)
                for j in range(chunk.shape[1]):
                    word |= chunk[:, j].astype(np.uint64) << np.uint64(j)
                packed.append(word.astype(np.int64))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "simhash_words": [list(t) for t in zip(*packed)],
                }
            )

    narrow = df.select(F.col(id_col), F.col(text_col))
    # a small parquet (one file -> ONE partition) would run the whole
    # python-md5 pass on a single core — fan the narrow projection out
    # first. At real scale inputs arrive in many partitions and this is
    # a no-op; the shuffle moves only (id, text).
    par = df.sparkSession.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < par:
        narrow = narrow.repartition(par)
    return narrow.mapInPandas(
        gen, "doc_id bigint, simhash_words array<bigint>"
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Duplicate-cluster labeling: assign every node the MINIMUM id
    reachable through the near-dup pair graph (undirected). Returns
    (node, cluster_id); singletons label themselves.

    Alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): each round rewires
    edges toward local minima, halving component diameter, so a path of
    length n converges in O(log n) rounds — not the O(diameter) of plain
    min-label propagation. Each phase is ONE window shuffle on the edge
    list (no label join), materialized per round (checkpoint.materialize:
    reliable checkpoints when a checkpoint dir is set) so lineage stays
    flat.

    Convergence is detected DIRECTLY: the iteration's fixpoints are
    exactly the star forests rooted at each component's minimum id
    (every src appears once, no node is both a src and a dst — both
    star phases provably map such a forest to itself), and that
    structural test is one groupBy + 1-row agg over the just-
    checkpointed edges. Testing the output itself — rather than the
    round-10-replaced fingerprint comparison against the PREVIOUS round
    — both drops the per-round xxhash pass and saves one entire star
    round: equality-with-previous can only certify round k by computing
    round k+1, while the structural test certifies round k as soon as
    it exists (and certifies an already-converged INPUT before any
    round runs — the common case for the contracted delta graphs the
    incremental fold feeds in). ``max_iter`` still backstops with a
    raise rather than silently-wrong labels.

    At the fixpoint labels read directly off the edges; roots and
    singletons label themselves.
    """
    a, b = F.col("doc_a"), F.col("doc_b")
    edges = (
        pairs.select(F.greatest(a, b).alias("src"), F.least(a, b).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(materialize)
    )
    node_col = nodes.select(F.col(id_col).alias("node"))

    def _is_star_forest(e: DataFrame) -> bool:
        # (max times any node is a src, #nodes that are both src and
        # dst) — (<=1, 0) iff the edges are disjoint stars; with the
        # loop's src > dst orientation each star's hub is then its
        # component minimum, so this IS the fixpoint test
        role = e.select(
            F.col("src").alias("v"), F.lit(1).alias("s"), F.lit(0).alias("d")
        ).unionAll(
            e.select(F.col("dst").alias("v"), F.lit(0), F.lit(1))
        )
        row = (
            role.groupBy("v")
            .agg(F.sum("s").alias("ns"), F.sum("d").alias("nd"))
            .agg(
                F.max("ns").alias("mx"),
                F.sum(
                    ((F.col("ns") > 0) & (F.col("nd") > 0)).cast("int")
                ).alias("ov"),
            )
            .collect()[0]
        )
        return row["mx"] is None or (row["mx"] <= 1 and row["ov"] == 0)

    # Per iteration, the convergence check of round k and the
    # materialization of round k+1 are INDEPENDENT Spark jobs (the
    # round never reads the check), so they run concurrently (guide
    # §2.6: overlap independent jobs) — iteration latency is
    # max(check, round) instead of their sum. The speculative round is
    # wasted exactly once, on the final iteration, where it runs on an
    # already-tiny star forest; it is cancelled via its job group the
    # moment the check passes. Labels are untouched: the same rounds
    # run in the same order, only their scheduling overlaps.
    import threading
    import uuid

    sc = edges.sparkSession.sparkContext
    for it in range(max_iter + 1):
        group = f"cc-spec-{uuid.uuid4().hex[:12]}"
        holder: dict = {}

        def _spec_round(e: DataFrame = edges, out: dict = holder) -> None:
            # a plain thread gets its own JVM thread under pinned-thread
            # mode, so the job group tags only the speculative job
            sc.setJobGroup(group, "cc speculative star round")
            try:
                out["edges"] = _small_star(_large_star(e)).transform(
                    materialize
                )
            except Exception as exc:  # surfaced on join() below
                out["err"] = exc

        th = threading.Thread(target=_spec_round, daemon=True)
        th.start()
        if _is_star_forest(edges):
            sc.cancelJobGroup(group)
            roots = edges.select(
                F.col("src").alias("node"), F.col("dst").alias("cluster_id")
            )
            return node_col.join(roots, "node", "left").select(
                "node",
                F.coalesce("cluster_id", F.col("node")).alias("cluster_id"),
            )
        th.join()
        if "err" in holder:
            raise holder["err"]
        edges = holder["edges"]
    raise RuntimeError(f"connected_components: no fixpoint in {max_iter} iters")


def incremental_connected_components(
    base_labels: DataFrame,
    new_edges: DataFrame,
    new_nodes: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Fold a NEW batch's near-dup edges into EXISTING component labels
    without recomputing the corpus — the incremental half of
    :func:`connected_components` (y14 finds the batch's pairs
    incrementally; this folds them into cluster state). Returns the
    full updated ``(node, cluster_id)`` table.

    Shape (the 100 TB contract — per-ingest cost ∝ batch, corpus
    touched only map-side):

    1. CONTRACT each existing component to its label: map every
       new-edge endpoint to its base label (endpoints not in
       ``base_labels`` stand for themselves). The label lookup prunes
       the corpus-sized label table with a BROADCAST semi-join on the
       batch's endpoint set — one map-side pass, no corpus shuffle.
    2. Run :func:`connected_components` on the CONTRACTED graph —
       bounded by touched components + new nodes, never the corpus.
    3. RELABEL: broadcast the contracted root map and left-join it onto
       ``base_labels`` by label (map-side); untouched rows keep their
       labels. New nodes take their contracted root (or themselves).

    Label semantics match the full recompute exactly: a base label is
    the min id of its component, so the contracted graph's min-label
    roots are the global min over every merged component's members —
    equality with full-recompute CC is pinned by the y73 oracle and the
    unit battery."""
    remap, fresh_labeled = incremental_cc_delta(
        base_labels, new_edges, new_nodes, id_col, max_iter
    )
    out = base_labels.join(
        broadcast(remap), F.col("cluster_id") == F.col("lbl"), "left"
    ).select(
        "node", F.coalesce("new_lbl", F.col("cluster_id")).alias("cluster_id")
    )
    if fresh_labeled is not None:
        out = out.unionByName(fresh_labeled)
    return out


def incremental_cc_delta(
    base_labels: DataFrame,
    new_edges: DataFrame,
    new_nodes: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> tuple[DataFrame, DataFrame | None]:
    """The DELTA half of :func:`incremental_connected_components`:
    ``(remap, fresh_labeled)`` where ``remap`` is the ``(lbl, new_lbl)``
    table of base labels that change and ``fresh_labeled`` is the
    ``(node, cluster_id)`` rows for nodes absent from ``base_labels``
    (None when ``new_nodes`` is None). Exposed separately so a MERGE
    store (streaming/pipeline.streaming_incremental_cc) can rewrite
    only the label partitions the delta touches instead of the corpus —
    the per-batch WRITE then scales with touched labels, matching the
    fold's per-batch COMPUTE."""
    lbl = base_labels.select("node", F.col("cluster_id").alias("lbl"))
    e = (
        new_edges.select(
            F.least("doc_a", "doc_b").alias("a"),
            F.greatest("doc_a", "doc_b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(materialize)
    )
    keys = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
    )
    # corpus pass 1 (map-side): prune the label table to touched nodes
    touched = lbl.join(broadcast(keys), "node", "left_semi").transform(
        materialize
    )
    ta = touched.select(F.col("node").alias("a"), F.col("lbl").alias("la"))
    tb = touched.select(F.col("node").alias("b"), F.col("lbl").alias("lb"))
    contracted = (
        e.join(broadcast(ta), "a", "left")
        .join(broadcast(tb), "b", "left")
        .select(
            F.coalesce("la", F.col("a")).alias("doc_a"),
            F.coalesce("lb", F.col("b")).alias("doc_b"),
        )
    )
    cnodes = (
        contracted.select(F.col("doc_a").alias("node"))
        .unionByName(contracted.select(F.col("doc_b").alias("node")))
        .distinct()
    )
    sub = connected_components(
        contracted, cnodes.withColumnRenamed("node", id_col), id_col, max_iter
    )
    remap = sub.select(
        F.col("node").alias("lbl"), F.col("cluster_id").alias("new_lbl")
    ).filter(F.col("lbl") != F.col("new_lbl"))
    fresh_labeled = None
    if new_nodes is not None:
        fresh = (
            new_nodes.select(F.col(id_col).alias("node"))
            .join(base_labels.select("node"), "node", "left_anti")
        )
        root = sub.select("node", F.col("cluster_id").alias("new_lbl"))
        fresh_labeled = fresh.join(broadcast(root), "node", "left").select(
            "node", F.coalesce("new_lbl", F.col("node")).alias("cluster_id")
        )
    return remap, fresh_labeled


def keep_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """Pick ONE representative document per near-duplicate cluster — the
    step that turns pair/cluster detection into an actually-deduplicated
    corpus (extension past the reference's relational surface; near-dup
    semantics follow the d02/y05 Jaccard family).

    Labels every doc with its :func:`connected_components` cluster, then
    ranks within each cluster by ``score_col`` descending (ties broken by
    ascending ``id_col``, so the choice is deterministic). Returns all
    input rows annotated with ``cluster_id``, ``cluster_size`` and
    ``is_canonical`` (1 for the kept representative, 0 for discards) —
    callers filter ``is_canonical = 1`` for the deduplicated corpus, or
    keep the full frame for audit.

    Scale shape: the component loop is y05's (diameter-bounded joins);
    after labeling, ranking costs ONE shuffle on ``cluster_id`` shared by
    the size count and the row_number (same window partition). Cluster
    sizes are near-dup clusters — small by construction (the LSH/banding
    stages cap degenerate buckets upstream), so the window never sees a
    skewed partition.
    """
    labels = connected_components(
        pairs.select("doc_a", "doc_b"), docs, id_col
    )
    scored = docs.join(
        labels, docs[id_col] == labels["node"], "inner"
    ).drop("node")
    w = Window.partitionBy("cluster_id")
    rank_w = w.orderBy(F.col(score_col).desc(), F.col(id_col))
    return (
        scored.withColumn(
            "cluster_size", F.count(F.lit(1)).over(w).cast("bigint")
        )
        .withColumn(
            "is_canonical",
            F.when(F.row_number().over(rank_w) == 1, F.lit(1))
            .otherwise(F.lit(0))
            .cast("int"),
        )
    )


def drop_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 10,
    anchor_unaligned: bool = True,
) -> DataFrame:
    """Corpus-wide duplicate-PASSAGE removal: tokenize each document into
    consecutive ``span_tokens``-token spans, keep only the FIRST occurrence
    of every distinct span across the whole corpus (first = lowest
    ``(id, position)``), and reassemble documents from their surviving
    spans. This is the passage/line-level exact dedup step of C4-style
    corpus cleaning — document-level dedup (d01) can't touch boilerplate
    that repeats INSIDE otherwise-distinct documents.

    With ``anchor_unaligned=True`` (default), duplicate detection uses
    k-gram anchors at EVERY token offset, not just span-aligned ones: a
    full span is dropped iff its exact content occurred earlier — as a
    sliding window at any offset — anywhere in the corpus (earlier =
    lower ``(id, token_offset)``). This closes the aligned-only blind
    spot where a passage duplicated at a +1-token offset inside an
    otherwise-distinct document went undetected (the known weakness of
    aligned-span approximations to Lee et al.'s suffix-array
    exact-substring dedup). Removal stays span-aligned — the reassembly
    contract is unchanged. ``anchor_unaligned=False`` keeps the cheaper
    aligned-only detection (k-gram volume is ~k-fold smaller).

    Output: one row per input document — ``clean_text`` (surviving spans
    re-joined in order, '' when everything was boilerplate), ``n_spans``,
    ``n_dropped``. Dropping zero spans reproduces the input text exactly
    (span concatenation is the identity partition of the token stream).

    Scale shape: ONE shuffle on the span/k-gram string, then ONE shuffle
    back on the doc id for reassembly; both keys are high-cardinality.
    The per-key work is a partial-aggregable min (or a sequential
    row_number in aligned mode) — O(dups), no pair blowup, so even a
    million-fold boilerplate span costs only its own row mass (the skew
    profile of a count, not a join). The anchor pass multiplies exchanged
    rows by ~k, so its k-gram keys are xxhash64-hashed BEFORE the
    shuffle: the exchange carries 8-byte keys instead of ~70-byte text
    (the grouping and the span-probe join agree because both sides hash
    the same string). A cross-content hash tie would need a 2^-64
    collision; the DuckDB oracle compares final reassembled documents,
    so any collision at test scale would surface as a value mismatch.

    No reference counterpart (SURVEY §2.4 extension). Paper basis: Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models Better"
    (exact-substring dedup), at span granularity with k-gram anchors.
    """
    k = span_tokens
    toks = F.split(F.col(text_col), " ")
    d = df.select(
        F.col(id_col),
        toks.alias("__tk"),
        F.size(toks).alias("__nt"),
        F.ceil(F.size(toks) / F.lit(float(k))).cast("int").alias("__ns"),
    )
    # sequence(0, n-1) generates DESCENDING for n<=0 — guard explicitly
    d = d.withColumn(
        "pos",
        F.expr(
            "CASE WHEN __ns > 0 THEN sequence(0, __ns - 1)"
            " ELSE CAST(array() AS ARRAY<INT>) END"
        ),
    )
    spans = d.select(
        id_col,
        F.explode("pos").alias("pos"),
        "__tk",
        "__nt",
    ).select(
        id_col,
        "pos",
        F.array_join(
            F.expr(f"slice(__tk, pos * {k} + 1, {k})"), " "
        ).alias("span"),
        (F.col("pos") * k + k <= F.col("__nt")).alias("__full"),
    )
    if anchor_unaligned:
        # k-gram anchors at every token offset; min (id, offset) per
        # content, keyed by the 8-byte hash of the gram (see docstring)
        anchors = (
            d.filter(F.col("__nt") >= k)
            .select(
                id_col,
                F.explode(F.expr(f"sequence(0, __nt - {k})")).alias("p"),
                "__tk",
            )
            .select(
                F.xxhash64(
                    F.array_join(F.expr(f"slice(__tk, p + 1, {k})"), " ")
                ).alias("kh"),
                F.struct(
                    F.col(id_col).alias("d"), F.col("p").alias("p")
                ).alias("occ"),
            )
        )
        firsts = anchors.groupBy("kh").agg(F.min("occ").alias("f"))
        # a full span survives iff the globally-first occurrence of its
        # content is its own position (inner join: every full span IS an
        # anchor at offset pos*k, so a match always exists)
        full_leg = (
            spans.filter(F.col("__full"))
            .join(firsts, F.xxhash64(F.col("span")) == F.col("kh"))
            .select(
                id_col,
                "pos",
                "span",
                (
                    (F.col("f.d") == F.col(id_col))
                    & (F.col("f.p") == F.col("pos") * k)
                ).alias("__kept"),
            )
        )
        # partial tail spans (< k tokens) can never equal a k-gram; they
        # dedup among themselves exactly as in aligned mode
        part_w = Window.partitionBy("span").orderBy(id_col, "pos")
        part_leg = (
            spans.filter(~F.col("__full"))
            .withColumn("__kept", F.row_number().over(part_w) == F.lit(1))
            .select(id_col, "pos", "span", "__kept")
        )
        flagged = full_leg.unionByName(part_leg)
    else:
        first_w = Window.partitionBy("span").orderBy(id_col, "pos")
        flagged = spans.withColumn(
            "__kept", F.row_number().over(first_w) == F.lit(1)
        )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("__kept"),
                                    F.struct("pos", "span"),
                                )
                            )
                        ),
                        lambda s: s["span"],
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("clean_text"),
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum(F.when(F.col("__kept"), 0).otherwise(1))
            .cast("bigint")
            .alias("n_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data Makes
# Language Models Better" — the ExactSubstr operator): remove every character
# covered by a duplicated window of k characters, keeping the globally FIRST
# occurrence of each window. drop_duplicate_spans (y28) is the token-aligned
# simplification; these are the arbitrary-character-span form.
# ---------------------------------------------------------------------------


def _mask_to_clean(d: DataFrame, masked: DataFrame, k: int) -> DataFrame:
    """Shared tail of both exact-substring tiers: turn masked window
    starts ``(doc_id, p)`` (1-based, each covering ``[p, p+k-1]``) into
    per-doc maximal intervals (gaps-and-islands over the per-doc window
    — per-DOC partitioning, so the shuffle key is fine-grained) and
    splice the covered characters out with one ``aggregate`` over the
    sorted interval list (JVM higher-order function, no Python row
    work). Returns (doc_id, text, clean_text)."""
    w = Window.partitionBy("doc_id").orderBy("p")
    prev_max = F.max(F.col("p") + (k - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = masked.select(
        "doc_id",
        "p",
        F.sum(
            F.when(prev_max.isNull() | (F.col("p") > prev_max + 1), 1).otherwise(0)
        )
        .over(w)
        .alias("island"),
    )
    spans = islands.groupBy("doc_id", "island").agg(
        F.min("p").alias("s"), (F.max("p") + (k - 1)).alias("e")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("spans")
    )
    spliced = F.expr(
        """
        aggregate(
          spans,
          named_struct('acc', CAST('' AS STRING), 'prev', CAST(0 AS INT)),
          (a, x) -> named_struct(
            'acc', concat(a.acc, substring(text, a.prev + 1, x.s - a.prev - 1)),
            'prev', CAST(x.e AS INT)),
          a -> concat(a.acc, substring(text, a.prev + 1, length(text) - a.prev))
        )
        """
    )
    return d.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "text",
        F.when(F.col("spans").isNull(), F.col("text"))
        .otherwise(spliced)
        .alias("clean_text"),
    )


def exact_substring_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 30,
) -> DataFrame:
    """ExactSubstr dedup, depth-k-truncated suffix grouping tier.

    Semantics: a character is removed iff it is covered by some
    k-length window whose content occurs elsewhere in the corpus
    EARLIER in ``(doc_id, position)`` order — i.e. every duplicated
    span of length >= k survives only at its first occurrence (a
    duplicated span of length L >= k is exactly a maximal run of
    duplicated k-windows covering L characters). Returns
    (doc_id, text, clean_text) for every input doc.

    Why no global suffix array: for a FIXED threshold k, two suffixes
    share a >=k-prefix iff their depth-k truncations are equal, so
    sorting suffixes beyond depth k buys nothing — grouping the k-char
    windows IS the suffix sort truncated where ExactSubstr stops
    reading it. That turns Lee et al.'s sequential SA construction
    (reference form; single machine, O(corpus) RAM) into three
    embarrassingly-shuffleable stages, all JVM built-ins:

    1. positions: posexplode a 1..len-k+1 sequence per doc (map-side);
       window identity = md5 of the k-char slice — 128-bit, computed
       identically by the DuckDB oracle, so collisions (P < 2^-64 per
       pair) cannot cause a silent parity mismatch;
    2. global stats: groupBy digest -> (count, min position-key) with
       map-side partial agg — degenerate hot windows (whitespace runs)
       collapse in the combiner, no per-group sort;
    3. mask + splice: positions join dup digests (shuffle on digest),
       drop the global first, merge overlapping windows per doc,
       splice with one higher-order ``aggregate``.

    The per-shard suffix-array tier (:func:`exact_substring_dedup_sa`)
    computes the same masking with in-shard SA+LCP doing the window
    grouping; equality of the two tiers is pinned in tests."""
    from pw_etl_scrumptious_squad_spark.operators.text import (
        _spread_narrow_input,
    )

    d = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    # ~500x row multiplier below (one row per character position): spread
    # a narrow (single-split) scan across the cores first, or one task
    # does the whole corpus's md5 work (the y52/y71 failure class)
    eligible = _spread_narrow_input(d.filter(F.length("text") >= k))
    pos = eligible.select(
        "doc_id",
        "text",
        F.posexplode(F.sequence(F.lit(1), F.length("text") - (k - 1))),
    ).select("doc_id", "text", F.col("col").alias("p"))
    key = (F.col("doc_id") * F.lit(4294967296)) + F.col("p")
    grams = pos.select(
        "doc_id",
        "p",
        F.md5(F.substring(F.col("text"), F.col("p"), F.lit(k))).alias("g"),
        key.alias("k"),
    )
    stats = grams.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.min("k").alias("first_key")
    )
    # the dup-digest table scales with the corpus (a heavily duplicated
    # corpus has corpus-order duplicated windows) — pin the join to a
    # shuffle strategy so a post-filter size MISestimate can never plan
    # a corpus-sized broadcast (observed at x100: a 1 GB+
    # BroadcastExchange blowing spark.driver.maxResultSize)
    masked = (
        grams.join(
            stats.filter(F.col("n") > 1)
            .select("g", "first_key")
            .hint("shuffle_hash"),
            "g",
        )
        .filter(F.col("k") != F.col("first_key"))
        .select("doc_id", "p")
    )
    return _mask_to_clean(d, masked, k)


def exact_substring_dedup_sa(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 30,
    num_shards: int | None = None,
) -> DataFrame:
    """ExactSubstr dedup, per-shard SUFFIX-ARRAY tier — identical output
    to :func:`exact_substring_dedup` (pinned by a parity test and the
    shared DuckDB oracle), with the window grouping done by a real
    truncated suffix-array construction instead of per-position hashing:

    1. SHARD: docs hash into ``num_shards`` groups; each shard
       concatenates its docs (NUL separators) and builds the suffix
       ORDER by Manber-Myers prefix doubling (vectorized numpy
       lexsorts), stopping once ranks are refined to depth >= k — the
       depth where ExactSubstr stops reading the suffix array, so the
       truncation loses nothing (suffixes equal to depth k stay
       adjacent in any deeper refinement).
    2. GROUP: one vectorized slide-compare over order-adjacent suffixes
       marks runs sharing a >=k prefix; ONE md5 per distinct window
       (the SA's computational win over tier 1's per-position hashing)
       is assigned to every member position. Positions whose window
       crosses a doc boundary or the shard tail are dropped.
    3. MERGE: shards exchange only (digest, position-key) rows; a
       global groupBy(digest) finds windows duplicated anywhere in the
       corpus (cross-shard included) and their global first occurrence
       — the distributed answer to the reference form's single-machine
       O(corpus) suffix array. Masking and splicing are shared with
       tier 1 (:func:`_mask_to_clean`).

    Python work is Arrow-batched applyInPandas over numpy — no per-row
    Python. Digests travel as TWO BIGINTs (the md5's first 120 bits),
    not hex strings: the per-position output row is 40 fixed bytes, so
    an x100 shard's Arrow transfer stays in bounded buffers (the string
    form allocated 440 MB direct-memory batches and blew the Arrow
    allocator at 32-way concurrency). Shard sizing at 100 TB:
    ``num_shards`` so one shard's concat fits an executor (the SA is
    8 bytes/char + the utf-32 view) AND at least the core count so no
    executor idles; the default derives from a cheap doc count
    (~4k docs/shard, floored at the session parallelism). The digest
    exchange is the only corpus-sized shuffle."""
    import math

    import numpy as np
    import pandas as pd

    if num_shards is None:
        # 4x the core count (not 1x): shards land in partitions by hash,
        # so at shards == partitions the fullest partition holds ~3
        # shards (balls-in-bins) and finishes 3x after the rest; at 4x
        # the per-shard work is a quarter and the overload ratio shrinks
        par = max(8, docs.sparkSession.sparkContext.defaultParallelism)
        num_shards = max(4 * par, math.ceil(docs.count() / 4000))

    def _shard_positions(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib as _hl

        pdf = pdf.sort_values("doc_id")
        texts = pdf["text"].fillna("").tolist()
        ids = pdf["doc_id"].to_numpy()
        concat = "\x00".join(texts)
        n = len(concat)
        if n < k:
            return pd.DataFrame(
                {"doc_id": [], "p": [], "g1": [], "g2": [], "pkey": []}
            ).astype("int64")
        # one int64 symbol per CHARACTER (utf-32 view), so positions are
        # char offsets — matching substring()/substr() on both engines
        sym = np.frombuffer(concat.encode("utf-32-le"), dtype=np.uint32).astype(
            np.int64
        )
        # Manber-Myers prefix doubling, truncated at depth >= k
        _, rank = np.unique(sym, return_inverse=True)
        rank = rank.astype(np.int64)
        h = 1
        while h < k:
            second = np.full(n, -1, dtype=np.int64)
            second[: n - h] = rank[h:]
            order = np.lexsort((second, rank))
            r_o, s_o = rank[order], second[order]
            new_start = np.empty(n, dtype=bool)
            new_start[0] = True
            new_start[1:] = (r_o[1:] != r_o[:-1]) | (s_o[1:] != s_o[:-1])
            newrank = np.empty(n, dtype=np.int64)
            newrank[order] = np.cumsum(new_start) - 1
            rank = newrank
            if rank[order[-1]] == n - 1:  # fully refined early
                break
            h *= 2
        sa = np.argsort(rank, kind="stable")
        # group order-adjacent suffixes sharing a full >=k prefix:
        # k vectorized passes of one-symbol compares (peak extra memory
        # O(n) per pass, NOT the O(n*k) a materialized window matrix
        # would cost — 1.7 GB/shard at x100); suffixes shorter than k
        # pad with the separator symbol (filtered as invalid below)
        padded = np.concatenate([sym, np.zeros(k, dtype=np.int64)])
        a, b = sa[:-1], sa[1:]
        neq = np.zeros(n - 1, dtype=bool)
        for j in range(k):
            neq |= padded[a + j] != padded[b + j]
        group = np.concatenate([[0], np.cumsum(neq)])
        # map concat positions back to (doc, in-doc 1-based position)
        lens = np.array([len(t) for t in texts], dtype=np.int64)
        starts = np.concatenate([[0], np.cumsum(lens + 1)[:-1]])
        doc_ix = np.searchsorted(starts, np.arange(n), side="right") - 1
        in_doc = np.arange(n) - starts[doc_ix]
        valid = in_doc + k <= lens[doc_ix]
        valid_sa = valid[sa]
        g_pos, g_grp = sa[valid_sa], group[valid_sa]
        if g_pos.size == 0:
            return pd.DataFrame(
                {"doc_id": [], "p": [], "g1": [], "g2": [], "pkey": []}
            ).astype("int64")
        # ONE digest per distinct window, assigned to every member
        uniq, inverse = np.unique(g_grp, return_inverse=True)
        first_pos = np.zeros(len(uniq), dtype=np.int64)
        first_pos[inverse[::-1]] = g_pos[::-1]  # any member works
        # md5's first 120 bits as two int64s: fixed 16 bytes/row instead
        # of a 32-char string — bounded Arrow buffers at x100 concurrency
        dig = [
            _hl.md5(concat[p : p + k].encode("utf-8")).hexdigest()
            for p in first_pos
        ]
        g1 = np.array([int(h[:15], 16) for h in dig], dtype=np.int64)
        g2 = np.array([int(h[15:30], 16) for h in dig], dtype=np.int64)
        d_ids = ids[doc_ix[g_pos]]
        p1 = in_doc[g_pos] + 1
        return pd.DataFrame(
            {
                "doc_id": d_ids,
                "p": p1,
                "g1": g1[inverse],
                "g2": g2[inverse],
                "pkey": d_ids * 4294967296 + p1,
            }
        )

    d = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    # EXPLICIT fixed-width repartition on the shard key before the
    # grouped-map stage (round-10 fix): a bare groupBy().applyInPandas
    # lets AQE coalesce the shuffle BY BYTES, and a corpus whose text is
    # small but whose per-shard suffix-array work is not gets folded
    # into ONE partition — measured at sf0.1: all 32 shards ran
    # sequentially in a single task (start-time spread 3.36s == the
    # whole stage). REPARTITION_BY_NUM is exempt from AQE coalescing,
    # and the grouped-map's ClusteredDistribution(__shard) is satisfied
    # by the existing hash partitioning, so no second exchange appears.
    sharded = d.withColumn(
        "__shard", F.pmod(F.col("doc_id"), F.lit(num_shards))
    ).repartition(num_shards, "__shard")
    positions = sharded.groupBy("__shard").applyInPandas(
        lambda _key, pdf: _shard_positions(pdf.drop(columns="__shard")),
        "doc_id long, p long, g1 long, g2 long, pkey long",
    )
    stats = positions.groupBy("g1", "g2").agg(
        F.count(F.lit(1)).alias("n"), F.min("pkey").alias("first_key")
    )
    # same corpus-sized-broadcast guard as the gram tier
    masked = (
        positions.join(
            stats.filter(F.col("n") > 1)
            .select("g1", "g2", "first_key")
            .hint("shuffle_hash"),
            ["g1", "g2"],
        )
        .filter(F.col("pkey") != F.col("first_key"))
        .select("doc_id", "p")
    )
    return _mask_to_clean(d, masked, k)
