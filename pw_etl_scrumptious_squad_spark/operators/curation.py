"""Corpus-curation operators for LLM training-data pipelines
(north-star extensions, no reference counterpart — SURVEY.md §2.4):
benchmark decontamination, deterministic stratified sampling (data
mixing), Gopher-style repetition metrics, and int8 embedding
quantization.

All hot paths are built-in / higher-order SQL functions (JVM-side,
whole-stage codegen); the only hash is md5, which is bit-identical in
Spark and DuckDB, so every operator here has a value-exact oracle.

100 TB posture, per operator:
- decontaminate: the eval/benchmark side is tiny (thousands of docs) and
  is distinct-reduced then BROADCAST; the corpus side is one explode +
  one hash-agg on doc_id — a single shuffle of (doc_id, shingle-hits),
  never a corpus x corpus join.
- stratified_sample: pure map-side filter (md5 of the id — no shuffle at
  all); rates live in a literal CASE, not a join.
- repetition_metrics: explode n-grams + two hash-aggs keyed by doc_id —
  shuffle volume is bounded by token count, and partial aggregation
  absorbs the duplicate mass map-side.
- quantize_embeddings: pure projection (no shuffle); emits int8 codes as
  a CSV string so the output is gate-safe (no array columns).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from pw_etl_scrumptious_squad_spark.checkpoint import materialize


# 2^60: the first 15 md5 hex chars parsed as an integer fall in
# [0, 2^60); dividing by this maps them to a uniform [0, 1) double.
_HASH_SPACE = float(1 << 60)


def _md5_unit_interval(col) -> F.Column:
    """Deterministic uniform [0,1) draw from a string column: first 60
    bits of md5, identical in DuckDB as
    ``CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) / 2^60``."""
    return (
        F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")
        / F.lit(_HASH_SPACE)
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing >=
    ``min_overlap`` distinct ``shingle_size``-token shingles with an
    eval/benchmark set (the standard n-gram-overlap decontamination run
    before training, n in 8..13).

    Plan shape: eval shingles are explode->distinct (benchmarks are tiny)
    and broadcast; corpus shingles are explode->distinct-per-doc; the
    inner join hits only contaminated docs, then one hash-agg on doc_id
    counts distinct overlapping shingles. Output keeps every corpus doc
    (left join) with ``n_overlap`` and a ``contaminated`` flag.
    """
    # Both sides ride the Arrow-batched shingle hasher (the y92/y93
    # route — the expression tier's interpreted per-shingle
    # transform/md5 lambda was the whole cost of this stage at sf0.1);
    # occurrences are deduped WITHIN each doc before anything shuffles
    # (map-side, == the old explode(array_distinct(...))) — a global
    # distinct on the exploded (doc_id, shingle) rows would shuffle the
    # entire shingle stream (measured 2x at sf0.1).
    from pw_etl_scrumptious_squad_spark.operators.sketches import (
        shingle_occurrences,
    )

    eval_sh = (
        shingle_occurrences(
            eval_docs, text_col, shingle_size, distinct_within_row=True
        )
        .select(F.col("item").alias("shingle"))
        .distinct()
    )
    doc_sh = shingle_occurrences(
        docs,
        text_col,
        shingle_size,
        keep_cols=(id_col,),
        distinct_within_row=True,
    ).select(F.col(id_col), F.col("item").alias("shingle"))
    hits = (
        doc_sh.join(broadcast(eval_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_overlap", F.lit(0)).cast("int").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) >= min_overlap).alias(
                "contaminated"
            ),
        )
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    id_col: str = "doc_id",
    seed: str = "mix-v1",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic stratified sampling — the data-mixing step that
    up/down-weights sources to hit a target mixture. Each row draws a
    uniform [0,1) from md5(id:seed) and survives iff the draw is below
    its stratum's rate; re-running with the same seed reproduces the
    exact sample (restart-safe on a 100 TB corpus, no RNG state).

    Pure map-side filter: the rate lookup is a literal CASE on
    ``strata_col`` (never a join) and the hash needs only the row itself.
    """
    rate = F.lit(default_rate)
    for k, v in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == k, F.lit(v)).otherwise(rate)
    draw = _md5_unit_interval(
        F.concat(F.col(id_col).cast("string"), F.lit(":" + seed))
    )
    return df.withColumn("__draw", draw).filter(F.col("__draw") < rate).drop(
        "__draw"
    )


def repetition_metrics(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (2, 3),
) -> DataFrame:
    """Gopher-style within-document repetition signals: for each n in
    ``ns``, the fraction of n-gram occurrences that belong to an n-gram
    appearing more than once in the doc (``dup_{n}gram_frac``), plus the
    highest single n-gram count (``max_{n}gram_count``). High values
    mark boilerplate / degenerate repetition for curation filters.

    One explode + two hash-aggs per n, all keyed by doc_id so the
    per-doc groups never cross executors twice; map-side partial
    aggregation collapses the duplicate mass before the shuffle.
    """
    toks = F.split(F.col(text_col), " ")
    out = df.select(id_col)
    for n in ns:
        grams = F.expr(
            f"CASE WHEN size(__tk) >= {n} THEN"
            f" transform(sequence(1, size(__tk) - {n - 1}),"
            f" i -> concat_ws(' ', slice(__tk, i, {n})))"
            " ELSE CAST(array() AS array<string>) END"
        )
        per_gram = (
            df.select(F.col(id_col), toks.alias("__tk"))
            .select(F.col(id_col), F.explode(grams).alias("g"))
            .groupBy(id_col, "g")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # ppm as an exact integer via floor(x*1e6 + 0.5): the ratio is a
        # small-denominator rational (e.g. 1/128 = 0.0078125) that CAN sit
        # exactly on a decimal rounding midpoint, where Spark (HALF_UP)
        # and DuckDB disagree; floor is one exact IEEE op in both.
        dup = F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
        per_doc = per_gram.groupBy(id_col).agg(
            F.floor(dup / F.sum("c") * F.lit(1e6) + F.lit(0.5))
            .cast("int")
            .alias(f"dup_{n}gram_ppm"),
            F.max("c").cast("int").alias(f"max_{n}gram_count"),
        )
        out = out.join(per_doc, id_col, "left")
    # Docs shorter than n tokens have no n-grams at all: 0 repetition.
    fills = {f"dup_{n}gram_ppm": 0 for n in ns}
    fills.update({f"max_{n}gram_count": 0 for n in ns})
    return out.fillna(fills)


def pack_chunks(
    chunks: DataFrame,
    budget: int,
    stream_col: str = "lang",
    order_cols: tuple[str, ...] = ("doc_id", "chunk_idx"),
    tokens_col: str = "n_chunk_tokens",
) -> DataFrame:
    """Greedy sequence packing: walk each ``stream_col`` stream in
    ``order_cols`` order and start a new bin whenever adding the next
    chunk would exceed ``budget`` tokens — the step that turns chunked
    documents into fixed-length training sequences with minimal padding.

    The greedy scan is inherently sequential (each bin boundary depends
    on the running fill), but NOT one-Python-call-per-stream: streams are
    hash-partitioned and sorted partition-locally, then ONE
    ``mapInPandas`` pass walks each partition, carrying the running
    (stream, bin, fill) across Arrow batch boundaries. With millions of
    tiny streams (e.g. stream = doc) a per-group ``applyInPandas`` pays
    the Arrow/pandas round-trip per stream — measured 8x slower at sf0.1
    — while this shape pays it per PARTITION. Packing never needs global
    order, only order within a stream, so the plan is one shuffle on the
    stream key and the bins stay executor-local.

    Output: one row per chunk with ``bin_id`` (0-based per stream) and
    ``bin_fill`` (running token count within the bin after this chunk).
    Chunks larger than the budget get a bin of their own (never split).
    """
    cols = [stream_col, *order_cols, tokens_col]

    def pack(batches):
        import numpy as np

        cur_stream, b, fill = None, 0, 0
        for pdf in batches:
            streams = pdf[stream_col].to_numpy()
            n = pdf[tokens_col].to_numpy(dtype=np.int64)
            bins = np.empty(len(n), dtype=np.int64)
            fills = np.empty(len(n), dtype=np.int64)
            for i in range(len(n)):
                s = streams[i]
                if s != cur_stream:
                    cur_stream, b, fill = s, 0, 0
                ni = n[i]
                if fill > 0 and fill + ni > budget:
                    b, fill = b + 1, 0
                fill += ni
                bins[i] = b
                fills[i] = fill
            out = pdf[cols].copy()
            out["bin_id"] = bins
            out["bin_fill"] = fills
            yield out

    dtypes = dict(chunks.dtypes)
    schema = ", ".join(
        f"{c} {t}"
        for c, t in zip(
            cols + ["bin_id", "bin_fill"],
            [*[dtypes[c] for c in cols], "bigint", "bigint"],
        )
    )
    return (
        chunks.select(*cols)
        .repartition(stream_col)
        .sortWithinPartitions(stream_col, *order_cols)
        .mapInPandas(pack, schema)
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column: per-vector
    scale = max(|v|)/127, codes = floor(v/scale + 0.5) — an ANN/storage
    compression step (4x smaller than float32, 8x than float64).

    ``floor(x + 0.5)`` instead of round(): floor is a single exact IEEE
    operation with identical semantics in Spark and DuckDB, so the codes
    (and the oracle) cannot diverge on rounding mode; ties round toward
    +inf symmetrically. Codes are emitted as a CSV string (gate-safe: no
    array columns in final projections) plus the raw double ``scale``
    for dequantization (gate-facing callers re-encode it as an exact
    integer, e.g. floor(scale*1e9 + 0.5)). Pure projection — no shuffle,
    codegen end-to-end.
    """
    # float32 -> double FIRST (both engines), then all math in double.
    v = F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))")
    scale = F.array_max(F.expr(f"transform({vec_col}, x -> abs(CAST(x AS DOUBLE)))")) / F.lit(
        127.0
    )
    # All-zero vectors: scale 0 would make every code 0/0; emit code 0
    # explicitly (the guard is replicated verbatim in the oracle SQL).
    code = lambda x: (  # noqa: E731
        F.when(scale > 0, F.floor(x / scale + F.lit(0.5)).cast("int"))
        .otherwise(F.lit(0))
        .cast("string")
    )
    return df.select(
        F.col(id_col),
        scale.alias("scale"),
        F.array_join(F.transform(v, code), ",").alias("codes_csv"),
    )


def embedding_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold_ppb: int = 950_000_000,
    exclude_self: bool = False,
) -> DataFrame:
    """Semantic benchmark decontamination (SemDeDup-style): flag corpus
    items whose embedding is near-identical to ANY eval/benchmark item
    by cosine similarity — the embedding-space complement of the
    shingle-overlap ``decontaminate``, catching paraphrased leakage that
    exact n-grams miss.

    Every corpus row appears exactly once in the output: rows with no
    eval match (only possible when ``eval_df`` is empty, or under
    ``exclude_self`` when the sole eval row shares the corpus id) come
    back with NULL best_eval_id/cos_ppb and ``contaminated = 0`` rather
    than vanishing. By default a corpus row IS compared against an eval
    row with the same id — an exact copy that kept its id is the most
    blatant contamination case and must flag; pass ``exclude_self=True``
    only when corpus and eval genuinely share an id space and identity
    matches are expected (e.g. the eval set is a subset of the corpus).

    Exactness: embeddings are integer-quantized per element
    (``floor(x*1e6 + 0.5)``) before any pair math, so dot products and
    squared norms are exact BIGINTs (order-free); the cosine is then ONE
    double expression identical on both engines, scaled to a ppb BIGINT
    with floor. Zero-norm vectors yield NULL cosine and sort last.

    Scale shape: the eval side is distinct-reduced and BROADCAST (a
    benchmark is thousands of rows); the corpus is scanned once, scored
    map-side against the broadcast eval matrix, and the best-match
    reduction shuffles once on the corpus id. Nothing corpus-sized is
    ever broadcast or re-read. For billion-row corpora route through IVF
    cells first (`embedding_neardup_pairs`' guarded path) to skip the
    eval x corpus product entirely.
    """
    quant = F.expr(
        f"transform({vec_col}, x -> cast(floor(cast(x as double)"
        " * 1000000.0d + 0.5d) as bigint))"
    )
    sqnorm = F.expr("aggregate(__qv, 0L, (acc, v) -> acc + v * v)")
    c = corpus.select(
        F.col(id_col).alias("vec_id"), quant.alias("__qv")
    ).withColumn("__nc", sqnorm)
    e = eval_df.select(
        F.col(id_col).alias("eval_id"), quant.alias("__qe")
    ).withColumn(
        "__ne", F.expr("aggregate(__qe, 0L, (acc, v) -> acc + v * v)")
    )
    dot = F.expr(
        "aggregate(zip_with(__qv, __qe, (x, y) -> x * y),"
        " 0L, (acc, v) -> acc + v)"
    )
    cos = F.col("__dot").cast("double") / F.nullif(
        F.sqrt(F.col("__nc").cast("double"))
        * F.sqrt(F.col("__ne").cast("double")),
        F.lit(0.0),
    )
    cond = (
        F.col("vec_id") != F.col("eval_id") if exclude_self else F.lit(True)
    )
    scored = (
        c.join(broadcast(e), cond)
        .withColumn("__dot", dot)
        .select(
            "vec_id",
            "eval_id",
            F.floor(cos * F.lit(1_000_000_000.0)+ F.lit(0.5)).cast("bigint").alias(
                "cos_ppb"
            ),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_ppb").desc_nulls_last(), F.col("eval_id").asc()
    )
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("eval_id").alias("best_eval_id"),
            "cos_ppb",
        )
    )
    # left-join back so unmatched corpus rows surface as contaminated=0
    # instead of silently disappearing from the report
    return (
        c.select("vec_id")
        .join(best, "vec_id", "left")
        .select(
            "vec_id",
            "best_eval_id",
            "cos_ppb",
            F.coalesce(
                (F.col("cos_ppb") >= F.lit(threshold_ppb)).cast("int"),
                F.lit(0),
            ).alias("contaminated"),
        )
    )


def top_k_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    order_by: list[Column],
    rank_col: str = "rnk",
) -> DataFrame:
    """Per-group quota: keep the top ``k`` rows of each ``group_col``
    group under the ``order_by`` ranking — the per-domain/per-source cap
    that stops one boilerplate-heavy site from dominating a web corpus.

    Two-phase at scale: rows are first pruned to the top-k WITHIN each
    input partition (window over (group, input-partition) — a local sort,
    NO shuffle), so the global per-group window receives at most
    k * num_partitions rows per group instead of the whole group. A
    single viral domain with 10^8 pages therefore costs each executor a
    k-row heap, not a 10^8-row sort partition; only the survivors shuffle.

    ``order_by`` must be a total order (tie-break on a unique id) for the
    result to be deterministic.
    """
    local_w = Window.partitionBy(
        F.spark_partition_id(), F.col(group_col)
    ).orderBy(*order_by)
    pruned = (
        df.withColumn("__lr", F.row_number().over(local_w))
        .filter(F.col("__lr") <= k)
        .drop("__lr")
    )
    w = Window.partitionBy(group_col).orderBy(*order_by)
    return pruned.withColumn(
        rank_col, F.row_number().over(w).cast("int")
    ).filter(F.col(rank_col) <= k)


def perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    exact: bool = True,
    approx_accuracy: int = 10000,
) -> DataFrame:
    """CCNet-style head/middle/tail split: score every document with the
    corpus-trained bigram log-probability model
    (:func:`text.bigram_logprob_scores`) and tercile it PER LANGUAGE —
    head = most-probable third (cleanest), tail = least. Downstream
    mixing then over-samples head and discards or down-weights tail,
    which is exactly CCNet's per-language perplexity bucketing.

    Documents too short to score (< 2 tokens) get bucket 'short' rather
    than polluting a tercile. Terciles are ``ntile(3)`` over the total
    order (score desc, doc_id) — deterministic because the score is
    already integer-derived and the id breaks ties; one lang-keyed window
    shuffle on top of the scoring aggregations.

    SCALE NOTE (round-8 organic-sf1 finding): the per-language window
    means the OUTPUT has ~|languages| busy partitions, and exact
    per-lang ntile is one sorting task per language. Consumers feeding
    this into corpus-wide map work (shingling, hashing) MUST
    repartition first or they inherit |languages|-way parallelism —
    x02 measured its whole containment stage on one task before the
    fix.

    ``exact=False`` is the 100 TB tier: per-language tercile CUTOFFS
    via ``percentile_approx`` (a map-side-combinable sketch — no
    per-language sort task anywhere), broadcast back and compared.
    Bucket assignment differs from exact ntile only for documents whose
    score ties or brushes a cutoff (ntile splits equal scores by doc_id
    to force exact thirds; the cutoff rule gives equal scores equal
    buckets — arguably the better semantics). Far-from-cutoff
    agreement and the sketch's accuracy knob are pinned in tests;
    exact ntile stays the oracle-checked tier.
    """
    from pw_etl_scrumptious_squad_spark.operators.text import (
        bigram_logprob_scores,
    )

    scores = bigram_logprob_scores(df, id_col, text_col)
    base = df.select(F.col(id_col).alias("doc_id"), F.col(lang_col).alias("lang"))
    joined = base.join(scores, "doc_id")
    scored = joined.filter(F.col("avg_logprob").isNotNull())
    if exact:
        w = Window.partitionBy("lang").orderBy(
            F.col("avg_logprob").desc(), F.col("doc_id").asc()
        )
        bucket = (
            F.when(F.ntile(3).over(w) == 1, F.lit("head"))
            .when(F.ntile(3).over(w) == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
        with_bucket = scored.select(
            "doc_id", "lang", "avg_logprob", bucket.alias("bucket")
        )
    else:
        # 100 TB tier: sketch the per-language tercile cutoffs (one
        # combiner-friendly aggregate, constant state per language),
        # broadcast the tiny cutoff table, compare map-side. head =
        # score >= q67 cutoff, tail = score < q33 cutoff. No sort task.
        cuts = scored.groupBy("lang").agg(
            F.percentile_approx(
                "avg_logprob", [1.0 / 3.0, 2.0 / 3.0], approx_accuracy
            ).alias("qs")
        ).select(
            "lang",
            F.col("qs")[0].alias("q33"),
            F.col("qs")[1].alias("q67"),
        )
        bucket = (
            F.when(F.col("avg_logprob") > F.col("q67"), F.lit("head"))
            .when(F.col("avg_logprob") > F.col("q33"), F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
        with_bucket = scored.join(broadcast(cuts), "lang").select(
            "doc_id", "lang", "avg_logprob", bucket.alias("bucket")
        )
    shorts = joined.filter(F.col("avg_logprob").isNull()).select(
        "doc_id", "lang", "avg_logprob", F.lit("short").alias("bucket")
    )
    return with_bucket.unionByName(shorts)


def source_overlap_matrix(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    shingle_size: int = 5,
) -> DataFrame:
    """Pairwise content overlap between corpus sources: exact Jaccard of
    each source-pair's distinct k-token shingle sets — the
    cross-source-duplication report that decides whether two crawl dumps
    or vendor feeds are worth ingesting both of (cf. the overlap matrices
    in The Pile / Dolma dataset cards).

    Shape: ONE (group, shingle-md5) distinct aggregation over the corpus
    (partial agg absorbs duplicate mass map-side), then a self-join keyed
    on the shingle whose output is bounded by #groups² — group counts are
    small (feeds, dumps, domains-bucketed), so the pair space never
    explodes even when the corpus does. At larger group cardinality swap
    the exact sets for per-group MinHash signatures (union via
    element-wise min) — same report, sketch-sized state.
    """
    from pw_etl_scrumptious_squad_spark.operators.sketches import (
        shingle_occurrences,
    )

    sh = (
        shingle_occurrences(
            df, text_col, shingle_size, keep_cols=(group_col,),
            distinct_within_row=True,
        )
        .select(F.col(group_col).alias("grp"), F.col("item").alias("h"))
        .distinct()
    )
    sizes = sh.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("grp").alias("src_a"), "h")
    b = sh.select(F.col("grp").alias("src_b"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("grp").alias("src_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("grp").alias("src_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


def source_overlap_sketch(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    shingle_size: int = 5,
) -> DataFrame:
    """Sketch-tier source overlap: the scale path
    :func:`source_overlap_matrix` documents. Each source's shingle SET is
    summarized by a ``num_perm``-component MinHash — the per-source
    sketch is the ELEMENT-WISE MIN of its documents' signatures (MinHash
    unions merge by min, so the reduction is a plain aggregation) — and
    pairwise Jaccard is estimated by the fraction of agreeing
    components.

    State per source is ``num_perm`` longs regardless of corpus size:
    at 100 TB the exact (source, shingle) distinct agg that
    ``source_overlap_matrix`` runs becomes the dominant shuffle, while
    this path shuffles only ``num_perm`` rows per source. Estimation
    error is the standard MinHash bound (sd ≈ sqrt(J(1-J)/num_perm));
    the pipeline is fully md5-deterministic, so even the ESTIMATE is
    value-exact reproducible cross-engine.
    """
    from pw_etl_scrumptious_squad_spark.operators.dedup import (
        minhash_signatures,
    )

    sigs = minhash_signatures(df, id_col, text_col, num_perm, shingle_size)
    tagged = sigs.join(
        df.select(
            F.col(id_col).alias("doc_id"), F.col(group_col).alias("grp")
        ),
        "doc_id",
    )
    comp = (
        tagged.select("grp", F.posexplode("minhash").alias("p", "h"))
        .groupBy("grp", "p")
        .agg(F.min("h").alias("mh"))
    )
    a = comp.select(F.col("grp").alias("src_a"), "p", F.col("mh").alias("ha"))
    b = comp.select(F.col("grp").alias("src_b"), "p", F.col("mh").alias("hb"))
    return (
        a.join(b, "p")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum((F.col("ha") == F.col("hb")).cast("bigint")).alias(
                "n_agree"
            )
        )
        .select(
            "src_a",
            "src_b",
            F.col("n_agree").cast("bigint").alias("n_agree"),
            F.round(F.col("n_agree") / F.lit(num_perm), 6).alias(
                "est_jaccard"
            ),
        )
    )


def exact_k_sample(
    df: DataFrame,
    strata_cols: list[str],
    k: int,
    id_col: str = "doc_id",
    seed_tag: str = "v1",
) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample — the eval-holdout /
    human-review carve-out where a RATE sample (``stratified_sample``)
    is wrong because small strata must still yield exactly ``k`` rows
    (or all rows, when the stratum is smaller than ``k``).

    The draw is ``md5(seed_tag | id)`` so membership is a pure function
    of the row id: re-runs, re-partitions, and incremental refreshes
    pick the SAME rows, and changing ``seed_tag`` rotates the entire
    sample atomically. One window shuffle keyed by the strata; rank
    ties are impossible (md5 collisions aside, the id breaks them).
    """
    draw = F.md5(
        F.concat_ws("|", F.lit(seed_tag), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(*strata_cols).orderBy(
        draw.asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= k)
    )


def plan_token_mixture(
    per_doc: DataFrame,
    budget_tokens: int,
    lang_weights: dict[str, float],
    bucket_weights: dict[str, float],
    max_epochs: float = 2.0,
    emit_unallocated: bool = False,
) -> DataFrame:
    """Token-budget mixture planning (Dolma/CCNet-style): given per-doc
    (lang, bucket, n_tokens) rows, allocate a total token budget first
    by language weight, then across quality buckets by bucket weight
    (normalized over the buckets actually PRESENT in that language), and
    emit per-stratum sampling rates capped at ``max_epochs`` repeats —
    the sheet a training-mix pipeline hands to the samplers.

    A language whose present buckets all carry zero bucket-weight gets
    explicit ``target_tokens = 0`` rows (not NULLs), and budget aimed at
    a weighted language that is absent from the data is surfaced when
    ``emit_unallocated=True`` as one extra row
    ``(lang='__unallocated__', bucket='')`` whose ``target_tokens`` is
    the shortfall — so a weight/data mismatch is detectable from the
    plan itself instead of silently undershooting the budget.

    Two tiny aggregations (stratum totals, per-lang present-bucket
    normalizer broadcast back); everything else is literal arithmetic.
    Determinism: counts are exact, and the weights are ppm-scaled
    INTEGERS internally — a float-weight sum would depend on partition
    order in its last bit; integer sums cannot — so the target/rate
    doubles are one fixed expression over exact integers, ppm/floor-
    scaled before emission.
    """
    lw = F.lit(0).cast("bigint")
    for lang, w in lang_weights.items():
        lw = F.when(
            F.col("lang") == lang, F.lit(int(round(w * 1_000_000)))
        ).otherwise(lw)
    bw = F.lit(0).cast("bigint")
    for b, w in bucket_weights.items():
        bw = F.when(
            F.col("bucket") == b, F.lit(int(round(w * 1_000_000)))
        ).otherwise(bw)
    strata = per_doc.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    ).withColumn("__bwppm", bw)
    norm = strata.groupBy("lang").agg(
        F.sum("__bwppm").cast("bigint").alias("__bwsum")
    )
    planned = (
        strata.join(broadcast(norm), "lang")
        .withColumn("__lwppm", lw)
        .withColumn(
            "__target",
            # bwsum = 0 (a language whose present buckets all have zero
            # weight) allocates 0, explicitly — not NULL
            F.coalesce(
                F.lit(float(budget_tokens))
                * (F.col("__lwppm").cast("double") / F.lit(1_000_000.0))
                * (
                    F.col("__bwppm").cast("double")
                    / F.nullif(F.col("__bwsum").cast("double"), F.lit(0.0))
                ),
                F.lit(0.0),
            ),
        )
        .withColumn(
            "__rate",
            F.least(
                F.col("__target") / F.col("n_tokens").cast("double"),
                F.lit(float(max_epochs)),
            ),
        )
    )
    out = planned.select(
        "lang",
        "bucket",
        "n_docs",
        "n_tokens",
        F.floor(F.col("__target") + F.lit(0.5)).cast("bigint").alias(
            "target_tokens"
        ),
        F.floor(F.col("__rate") * F.lit(1_000_000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("rate_ppm"),
        F.floor(F.col("__rate") * F.col("n_tokens").cast("double") + F.lit(0.5))
        .cast("bigint")
        .alias("expected_tokens"),
    )
    if not emit_unallocated:
        return out
    shortfall = out.agg(
        F.lit("__unallocated__").alias("lang"),
        F.lit("").alias("bucket"),
        F.lit(0).cast("bigint").alias("n_docs"),
        F.lit(0).cast("bigint").alias("n_tokens"),
        F.greatest(
            F.lit(int(budget_tokens))
            - F.coalesce(F.sum("target_tokens"), F.lit(0)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("target_tokens"),
        F.lit(0).cast("bigint").alias("rate_ppm"),
        F.lit(0).cast("bigint").alias("expected_tokens"),
    )
    return out.unionByName(shortfall)


def merge_aggregates(
    prev: DataFrame,
    delta: DataFrame,
    key_cols: list[str],
    aggs: dict[str, str],
) -> DataFrame:
    """Incremental view maintenance for algebraic aggregates: fold a new
    batch's PARTIAL aggregate into the previously materialized rollup
    without rescanning history — ``aggs`` maps column -> original
    function (sum / count / min / max); partial counts re-combine by
    summing, the rest by their own function.

    This is the 100 TB shape for any daily-maintained rollup: the merge
    touches |prev keys| + |delta keys| rows (megabytes), not the raw
    history (terabytes). Non-algebraic aggregates (avg, distinct) must be
    carried as their algebraic parts (sum+count, sketch) and finalized at
    read time.
    """
    recombine = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    for c, fn in aggs.items():
        if fn not in recombine:
            raise ValueError(
                f"{fn} is not algebraic; materialize its parts instead"
            )
    return (
        prev.unionByName(delta)
        .groupBy(*key_cols)
        .agg(*[recombine[fn](c).alias(c) for c, fn in aggs.items()])
    )


def assign_shards(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    weight_col: str = "n_tokens",
    n_buckets: int = 64,
    seed: str = "shard-v1",
) -> DataFrame:
    """Deterministic balanced shard assignment: give every row a shard in
    ``[0, n_shards)`` such that per-shard total ``weight_col`` (token
    counts) comes out near-equal — the writer-side step that turns a
    curated corpus into training shards of even size.

    A greedy global LPT pass would need a single-partition sort at 100 TB.
    Instead each row hashes (md5, seeded — restart-reproducible) into one
    of ``n_buckets`` independent groups; within each bucket a window
    ranks rows by descending weight and deals them round-robin, with the
    bucket index rotating the starting shard so bucket remainders don't
    all land on shard 0. Within one bucket the round-robin keeps shard
    sums within one max-item weight per round of each other; across many
    buckets the deviations average out. All windows are partitioned by
    bucket — ``n_buckets`` parallel sorts, no global bottleneck.

    Returns the input plus ``shard`` (int). Deterministic: same data +
    seed => identical assignment, any partitioning.
    """
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"), F.lit(":" + seed)
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % n_buckets
    )
    w = Window.partitionBy("__bucket").orderBy(
        F.col(weight_col).desc(), F.col(id_col)
    )
    return (
        df.withColumn("__bucket", bucket)
        .withColumn(
            "shard",
            ((F.row_number().over(w) - 1 + F.col("__bucket")) % n_shards)
            .cast("int"),
        )
        .drop("__bucket")
    )


def semdedup_prune(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold_ppb: int = 950_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    impl: str = "auto",
) -> DataFrame:
    """SemDeDup cluster-then-prune (Abbas et al. 2023): assign every
    vector to its nearest centroid, find near-duplicate pairs WITHIN
    each cell (cosine >= threshold), and keep, per duplicate
    relationship, the member with the LOWEST cosine-to-centroid (the
    paper's keep-low-similarity policy — boundary examples carry more
    signal than cluster-core boilerplate). Returns one row per corpus
    vector: (vec_id, cell, cent_ppb, kept).

    Drop rule (single-pass, chain-free, deterministic): a vector v is
    dropped iff some same-cell u has pair-cosine >= threshold and
    priority over v — priority = lower cent_ppb, ties by lower id. No
    iterative clustering: each vector checks only its own neighbors, so
    the rule is one within-cell join, not a fixpoint.

    Scale shape: centroids broadcast (tiny), assignment is one map-side
    pass, and the pair join shuffles on the CELL key only — the
    quadratic stage is bounded by cell size, which is the SemDeDup
    design (cells ~ corpus/n_cells; size n_cells so cells fit). Nothing
    corpus-sized is broadcast.

    Exactness: per-element ``floor(x*1e6+0.5)`` quantization makes every
    dot product / squared norm an exact BIGINT (order-free) on both
    engines; each cosine is then ONE double expression ppb-floored, and
    assignment/priority compare those integers — bit-identical
    cross-engine, so the full prune decision is value-exact.

    ``impl``: ``'vectorized'`` (the default under ``'auto'`` — round
    10: measured 4.5x at the y48 shape, 2k vectors x 512 centroids,
    because the expression tier's per-pair interpreted ``aggregate``/
    ``zip_with`` folds pay ~us per element while the matmul batches
    whole cells) computes the same decisions in
    :func:`_semdedup_prune_matmul` — one int64 numpy matmul per Arrow
    batch (assignment) / per cell group (pairs). Every intermediate is
    either an exact int64 or the identical IEEE double expression, so
    both tiers return the SAME rows (asserted by the parity test).
    ``'expr'`` pins the expression path above, which remains the DuckDB
    oracle's structural twin and the parity test's reference.
    """
    if impl not in ("auto", "expr", "vectorized"):
        raise ValueError(f"impl must be auto|expr|vectorized, got {impl!r}")
    if impl != "expr":
        return _semdedup_prune_matmul(
            corpus, centroids, threshold_ppb, id_col, vec_col, centroid_id
        )
    quant_v = F.expr(
        f"transform({vec_col}, x -> cast(floor(cast(x as double)"
        " * 1000000.0d + 0.5d) as bigint))"
    )
    sq = "aggregate({0}, 0L, (acc, v) -> acc + v * v)"
    c = corpus.select(
        F.col(id_col).alias("vec_id"), quant_v.alias("__qv")
    ).withColumn("__nv", F.expr(sq.format("__qv")))
    cent = centroids.select(
        F.col(centroid_id).alias("cell"), quant_v.alias("__qc")
    ).withColumn("__ncnt", F.expr(sq.format("__qc")))
    dotc = F.expr(
        "aggregate(zip_with(__qv, __qc, (x, y) -> x * y),"
        " 0L, (acc, v) -> acc + v)"
    )
    cosc = F.col("__dc").cast("double") / F.nullif(
        F.sqrt(F.col("__nv").cast("double"))
        * F.sqrt(F.col("__ncnt").cast("double")),
        F.lit(0.0),
    )
    scored = (
        c.crossJoin(broadcast(cent))
        .withColumn("__dc", dotc)
        .select(
            "vec_id",
            "__qv",
            "__nv",
            "cell",
            F.floor(cosc * F.lit(1_000_000_000.0) + F.lit(0.5))
            .cast("bigint")
            .alias("cent_ppb"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cent_ppb").desc_nulls_last(), F.col("cell").asc()
    )
    assigned = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    u = assigned.select(
        F.col("vec_id").alias("u_id"),
        F.col("__qv").alias("u_qv"),
        F.col("__nv").alias("u_nv"),
        "cell",
        F.col("cent_ppb").alias("u_cent"),
    )
    v = assigned.select(
        F.col("vec_id").alias("v_id"),
        F.col("__qv").alias("v_qv"),
        F.col("__nv").alias("v_nv"),
        "cell",
        F.col("cent_ppb").alias("v_cent"),
    )
    pair_dot = F.expr(
        "aggregate(zip_with(u_qv, v_qv, (x, y) -> x * y),"
        " 0L, (acc, v) -> acc + v)"
    )
    pair_cos = F.col("__pd").cast("double") / F.nullif(
        F.sqrt(F.col("u_nv").cast("double"))
        * F.sqrt(F.col("v_nv").cast("double")),
        F.lit(0.0),
    )
    priority = (F.col("u_cent") < F.col("v_cent")) | (
        (F.col("u_cent") == F.col("v_cent"))
        & (F.col("u_id") < F.col("v_id"))
    )
    dropped = (
        u.join(v, "cell")
        .filter(F.col("u_id") != F.col("v_id"))
        .withColumn("__pd", pair_dot)
        .withColumn(
            "__pc",
            F.floor(pair_cos * F.lit(1_000_000_000.0) + F.lit(0.5)).cast(
                "bigint"
            ),
        )
        .filter((F.col("__pc") >= F.lit(threshold_ppb)) & priority)
        .select(F.col("v_id").alias("vec_id"))
        .distinct()
        .withColumn("__drop", F.lit(1))
    )
    return (
        assigned.select("vec_id", "cell", "cent_ppb")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            "cent_ppb",
            F.when(F.col("__drop").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("kept"),
        )
    )


def _semdedup_prune_matmul(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold_ppb: int,
    id_col: str,
    vec_col: str,
    centroid_id: str,
) -> DataFrame:
    """SemDeDup scale route: identical keep/drop decisions to
    :func:`semdedup_prune`'s expression path, with the two dense stages
    as Arrow-batched int64 numpy matmuls (the d06 twin pattern —
    expression folds measured ~32 us/pair/core vs ~0.02 s for a whole
    2k-cell matmul).

    Decision parity, stage by stage: quantization is
    ``floor(float64(x) * 1e6 + 0.5)`` per element (exact int64 both
    ways); dots and squared norms are int64 sums (order-free, exact);
    each cosine/ppb is the same IEEE double expression in the same
    operand order (``floor((dot / (sqrt(nv) * sqrt(nc))) * 1e9 +
    0.5)``); assignment tie-break is numpy's first-argmax over cells
    sorted ascending = the window's ``cent_ppb desc nulls_last, cell
    asc``. Degenerates match too: a NULL embedding is treated as the
    zero vector (what the expression path's NULL propagation yields) —
    zero-norm rows get the LOWEST cell id, NULL ``cent_ppb``, and can
    neither drop nor be dropped.

    Memory: the pair stage is one ``cell x cell`` double matrix per
    group — cell size is the caller's control via the centroid count
    (SemDeDup's own design knob: cells sized so the quadratic stage
    fits; ~2k vectors -> ~32 MB peak per group).
    """
    import numpy as np
    import pandas as pd

    cent_rows = (
        centroids.select(
            F.col(centroid_id).cast("int").alias("cell"), F.col(vec_col)
        )
        .orderBy("cell")
        .collect()
    )
    cells = np.asarray([r["cell"] for r in cent_rows], dtype="i4")
    cq = np.stack(
        [
            np.floor(
                np.asarray(r[vec_col], dtype="f8") * 1e6 + 0.5
            ).astype("i8")
            for r in cent_rows
        ]
    )
    ncnt = (cq * cq).sum(axis=1)
    min_cell = int(cells.min())
    dim = cq.shape[1]

    def _quant(col) -> np.ndarray:
        vecs = [
            np.zeros(dim, dtype="f8")
            if v is None
            else np.asarray(v, dtype="f8")
            for v in col
        ]
        return np.floor(np.stack(vecs) * 1e6 + 0.5).astype("i8")

    def _assign(parts):
        for pdf in parts:
            if len(pdf) == 0:
                continue
            q = _quant(pdf[vec_col].to_numpy())
            nv = (q * q).sum(axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (q @ cq.T).astype("f8") / (
                    np.sqrt(nv.astype("f8"))[:, None]
                    * np.sqrt(ncnt.astype("f8"))[None, :]
                )
                ppb = np.floor(cos * 1e9 + 0.5)
            valid = nv > 0
            idx = np.zeros(len(q), dtype="i8")
            if valid.any():
                idx[valid] = np.argmax(ppb[valid], axis=1)
            cellv = cells[idx].copy()
            cellv[~valid] = min_cell
            centv = ppb[np.arange(len(q)), idx]
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(),
                    "cell": cellv.astype("i4"),
                    "cent_ppb": pd.array(
                        [
                            int(c) if v else None
                            for v, c in zip(valid, centv)
                        ],
                        dtype="Int64",
                    ),
                    "qv": list(q),
                    "nv": nv,
                }
            )

    assigned = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col)
    ).mapInPandas(
        _assign,
        "vec_id long, cell int, cent_ppb bigint, qv array<bigint>, nv bigint",
    )

    thr = int(threshold_ppb)

    def _cell_prune(pdf):
        ids = pdf["vec_id"].to_numpy()
        q = np.stack(pdf["qv"].to_numpy()).astype("i8")
        nv = pdf["nv"].to_numpy().astype("i8")
        cent = pdf["cent_ppb"].to_numpy(dtype="f8", na_value=np.nan)
        with np.errstate(divide="ignore", invalid="ignore"):
            pc = np.floor(
                (
                    (q @ q.T).astype("f8")
                    / (
                        np.sqrt(nv.astype("f8"))[:, None]
                        * np.sqrt(nv.astype("f8"))[None, :]
                    )
                )
                * 1e9
                + 0.5
            )
        # priority[u, v]: u outranks v (lower cent_ppb, ties lower id);
        # NaN cent (zero-norm) fails every comparison, as NULL does in
        # the expression path
        prio = (cent[:, None] < cent[None, :]) | (
            (cent[:, None] == cent[None, :]) & (ids[:, None] < ids[None, :])
        )
        hit = (pc >= thr) & prio
        np.fill_diagonal(hit, False)
        dropped = hit.any(axis=0)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": pdf["cell"].to_numpy(),
                "cent_ppb": pdf["cent_ppb"],
                "kept": (~dropped).astype("i4"),
            }
        )

    # explicit fixed-width repartition on the cell key (the y78 AQE
    # lesson): a bare groupBy().applyInPandas lets AQE coalesce the
    # byte-small shuffle into few partitions and run the O(cell^2)
    # matmuls sequentially; REPARTITION_BY_NUM is exempt from
    # coalescing and satisfies the grouped-map's clustered
    # distribution, so no second exchange appears
    n_part = max(
        len(cells), corpus.sparkSession.sparkContext.defaultParallelism
    )
    return assigned.repartition(n_part, "cell").groupBy("cell").applyInPandas(
        _cell_prune, "vec_id long, cell int, cent_ppb bigint, kept int"
    )


def dsir_importance(
    docs: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score each document
    by the average log-ratio of target-vs-raw hashed-bigram bucket
    probabilities (add-1 smoothed). ``target`` is a boolean Column
    marking the in-domain subset; the raw distribution is the REST of
    the corpus. Output: (doc_id, n_bigrams, score) for docs with >= 2
    tokens; positive scores read "more target-like".

    100 TB shape: bigrams explode map-side into ``n_buckets`` hashed
    buckets, both distributions come from ONE hash-agg over the bucket
    key (bounded at n_buckets rows — driver-tiny), totals ride a
    broadcast cross join, and the per-doc score is one more hash-agg on
    doc_id. Nothing corpus-sized is broadcast or collected.

    Exactness: each bucket's log-ratio is ONE double expression
    ppb-quantized to BIGINT (same operand order in the DuckDB oracle),
    so per-doc sums are integer-exact and the final 6-dp rounding is
    engine-independent (the x02 bigram-LM quantization pattern)."""
    b = n_buckets
    tk = docs.select(
        F.col(id_col).alias("doc_id"),
        target.cast("int").alias("is_t"),
        F.split(F.col(text_col), " ").alias("t"),
    ).filter(F.size("t") >= 2)
    # materialize the hashed-bucket stream ONCE: it feeds BOTH the
    # bucket-stats agg and the per-doc scoring join, and without the
    # barrier each consumer re-runs the bigram explode + md5 over the
    # whole corpus (the y32/containment shared-subtree lesson; guide
    # §2.4 duplicated subtrees)
    bg = tk.select(
        "doc_id",
        "is_t",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
            )
        ).alias("g"),
    ).select(
        "doc_id",
        "is_t",
        F.expr(
            f"cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint) % {b}"
        ).alias("bkt"),
    ).transform(materialize)
    counts = bg.groupBy("bkt").agg(
        F.sum("is_t").alias("ct"),
        (F.count(F.lit(1)) - F.sum("is_t")).alias("cr"),
    )
    totals = counts.agg(
        F.sum("ct").alias("nt"), F.sum("cr").alias("nr")
    )
    weights = counts.crossJoin(broadcast(totals)).select(
        "bkt",
        F.expr(
            "cast(round(ln((cast(ct + 1 as double)"
            f" / cast(nt + {b} as double))"
            f" * (cast(nr + {b} as double)"
            " / cast(cr + 1 as double))) * 1000000000.0, 0) as bigint)"
        ).alias("wq"),
    )
    return (
        bg.join(broadcast(weights), "bkt")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum("wq") / F.count(F.lit(1)) / 1000000000.0, 6
            ).alias("score"),
        )
    )


# (doc_id, seg_idx) pairs encode into one orderable BIGINT for the
# first-occurrence argmin; segments per document stay far below this
# (10-token segments -> 1e6 segments = a 10M-token single document)
_SEG_ENCODE = 1_000_000


def segment_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 10,
) -> DataFrame:
    """CCNet-style cross-document segment dedup (Wenzek et al. 2020
    dedupe paragraphs by hash; here fixed ``seg_tokens``-token
    non-overlapping segments stand in for paragraphs — the synthetic
    corpus has no newlines): a segment INSTANCE is kept iff it is the
    corpus-wide FIRST occurrence of its hash (minimal (doc_id,
    seg_idx)). Output per doc: (doc_id, n_segs, n_kept, dedup_md5) with
    dedup_md5 = md5 of the kept segments joined in order — a value-exact
    fingerprint of the deduplicated text.

    100 TB shape: segmentation is the y01 map-side explode; the
    first-occurrence argmin is ONE hash-agg on the segment hash (min of
    an encoded BIGINT — combiner-friendly, duplicate mass absorbed
    map-side); the join back shuffles on the same hash key; the rebuild
    is one hash-agg on doc_id. No window over the corpus, nothing
    collected."""
    from pw_etl_scrumptious_squad_spark.operators.text import (
        chunk_documents,
    )

    segs = (
        chunk_documents(docs, id_col, text_col, seg_tokens, seg_tokens)
        .select(
            "doc_id",
            F.col("chunk_idx").alias("seg_idx"),
            F.col("chunk_text").alias("seg_text"),
        )
        .withColumn("h", F.md5("seg_text"))
        .withColumn(
            "ek", F.col("doc_id") * _SEG_ENCODE + F.col("seg_idx")
        )
    )
    firsts = segs.groupBy("h").agg(F.min("ek").alias("first_ek"))
    marked = segs.join(firsts, "h").withColumn(
        "kept", (F.col("ek") == F.col("first_ek")).cast("int")
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segs"),
        F.sum("kept").cast("bigint").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("kept") == 1,
                                F.struct("seg_idx", "seg_text"),
                            )
                        )
                    ),
                    lambda s: s["seg_text"],
                ),
                " ",
            )
        ).alias("dedup_md5"),
    )


def source_kl_divergence(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """Per-source distribution drift: KL(source || corpus) in nats over
    add-1-smoothed hashed-unigram bucket distributions — the mixture
    monitor that flags a source whose token distribution has drifted
    from the corpus it feeds (new crawl snapshot gone weird, a source
    turning templated). Returns (source, n_tokens, kl_nats).

    Scale shape (the y49 bucket design): unigrams explode map-side into
    ``n_buckets`` hashed buckets, so ALL distribution state is one
    hash-agg bounded at |sources| x n_buckets rows; the corpus marginal
    (<= n_buckets rows) is broadcast and the smoothed KL term grid is
    |sources| x K rows (K = observed corpus buckets) — nothing
    corpus-sized shuffles twice or reaches the driver. The B - K
    buckets unseen in the whole corpus share one closed-form term per
    source, added as an integer multiple.

    Exactness: every grid term p_s * ln(p_s / p_c) is ppb-quantized to
    BIGINT (same operand order in the DuckDB oracle), the unseen-bucket
    term likewise, so the per-source sum is integer-exact and the final
    6-dp rounding is engine-independent.
    """
    b = n_buckets
    tk = docs.select(
        F.col(source_col).alias("source"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    bk = tk.withColumn(
        "bkt",
        F.expr(
            f"cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint) % {b}"
        ),
    )
    counts = bk.groupBy("source", "bkt").agg(
        F.count(F.lit(1)).alias("csb")
    )
    corpus_b = counts.groupBy("bkt").agg(F.sum("csb").alias("cb"))
    src_tot = counts.groupBy("source").agg(F.sum("csb").alias("ns"))
    corpus_tot = corpus_b.agg(F.sum("cb").alias("nc"))
    grid = (
        corpus_b.crossJoin(broadcast(src_tot))
        .join(counts, ["source", "bkt"], "left")
        .withColumn("csb", F.coalesce(F.col("csb"), F.lit(0)))
        .crossJoin(broadcast(corpus_tot))
    )
    term = (
        "(cast({c} + 1 as double) / cast({n} + {b} as double))"
        " * ln((cast({c} + 1 as double) / cast({n} + {b} as double))"
        " / (cast({cb} + 1 as double) / cast(nc + {b} as double)))"
    )
    tq = term.format(c="csb", n="ns", cb="cb", b=b)
    t0 = term.format(c="0", n="ns", cb="0", b=b)
    quant = "cast(round(({0}) * 1000000000.0, 0) as bigint)"
    per_src = grid.select(
        "source",
        "ns",
        "nc",
        F.expr(quant.format(tq)).alias("tq"),
        F.expr(quant.format(t0)).alias("t0q"),
    ).groupBy("source").agg(
        F.max("ns").cast("bigint").alias("n_tokens"),
        (
            F.sum("tq")
            + (F.lit(b) - F.count(F.lit(1))) * F.max("t0q")
        ).alias("klq"),
    )
    return per_src.select(
        "source",
        "n_tokens",
        F.round(F.col("klq") / 1_000_000_000.0, 6).alias("kl_nats"),
    )


def stratified_split(
    df: DataFrame,
    strata_cols: list[str],
    splits: list[tuple[str, int]],
    id_col: str = "doc_id",
    seed_tag: str = "v1",
) -> DataFrame:
    """Deterministic train/val/test split with EXACT per-stratum quotas:
    ``splits`` is an ordered list of (name, ppm) weights summing to
    1_000_000; each stratum of size n is apportioned by largest
    remainder (quotas sum to n exactly — a rate sample drifts, and
    exact-k ignores proportions), and rows are assigned to splits in
    list order along the ``md5(seed_tag | id)`` ranking (the y42 draw:
    membership is a pure function of the row id, so re-runs and
    incremental refreshes reproduce the same split, and rotating
    ``seed_tag`` reshuffles atomically).

    Returns every input row with its ``split`` label. All apportionment
    math is integer (shares in ppm, remainder rank ties broken by split
    position) so the assignment is value-exact cross-engine.

    Scale shape: one window shuffle keyed by the strata for the rank,
    one stratum-sized count agg, and a broadcast join of the per-stratum
    quota table (|strata| x |splits| rows — driver-tiny); the boundary
    comparison is map-side.
    """
    total = sum(p for _, p in splits)
    if total != 1_000_000:
        raise ValueError(f"split ppm weights must sum to 1e6, got {total}")
    spark = df.sparkSession
    split_df = spark.createDataFrame(
        [(i, n, p) for i, (n, p) in enumerate(splits)],
        "pos int, split string, ppm long",
    )
    draw = F.md5(
        F.concat_ws("|", F.lit(seed_tag), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(*strata_cols).orderBy(
        draw.asc(), F.col(id_col).asc()
    )
    ranked = df.withColumn("__rk", F.row_number().over(w))
    sizes = ranked.groupBy(*strata_cols).agg(
        F.count(F.lit(1)).alias("__n")
    )
    # largest-remainder apportionment, all-integer: share = n * ppm;
    # base = share div 1e6; leftover = n - sum(base) extra units go to
    # the largest remainders (ties: lowest split position)
    shares = sizes.crossJoin(broadcast(split_df)).select(
        *strata_cols,
        "pos",
        "split",
        "__n",
        (F.col("__n") * F.col("ppm")).alias("__share"),
    )
    # `div` is exact integer division — `/` on longs is DOUBLE division,
    # whose ulp exceeds the 1e-6 quota spacing once strata pass ~2^33
    # rows, so the truncated base could drift off the oracle's `//` by 1
    shares = shares.withColumn(
        "__base", F.expr("__share div 1000000")
    ).withColumn("__rem", F.col("__share") % F.lit(1_000_000))
    ws = Window.partitionBy(*strata_cols)
    wr = Window.partitionBy(*strata_cols).orderBy(
        F.col("__rem").desc(), F.col("pos").asc()
    )
    quotas = (
        shares.withColumn(
            "__leftover", F.col("__n") - F.sum("__base").over(ws)
        )
        .withColumn("__rr", F.row_number().over(wr))
        .withColumn(
            "quota",
            F.col("__base")
            + F.when(F.col("__rr") <= F.col("__leftover"), 1).otherwise(0),
        )
    )
    # cumulative upper boundary in split-list order: rank <= hi and
    # rank > hi - quota  =>  this split
    wb = (
        Window.partitionBy(*strata_cols)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bounds = quotas.withColumn("__hi", F.sum("quota").over(wb)).select(
        *strata_cols,
        "split",
        (F.col("__hi") - F.col("quota")).alias("__lo"),
        "__hi",
    )
    return (
        ranked.join(broadcast(bounds), strata_cols)
        .filter(
            (F.col("__rk") > F.col("__lo")) & (F.col("__rk") <= F.col("__hi"))
        )
        .drop("__lo", "__hi", "__rk")
    )


def hll_registers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 8,
) -> DataFrame:
    """The HLL sketch STATE: per-group per-bucket register maxima —
    constant size (2^p rows per group), mergeable by element-wise max,
    and safe as a STREAMING aggregation (max over a watermarked group):
    persist/merge these, finalize with
    :func:`hll_estimate_from_registers`. See :func:`hll_distinct` for
    the exactness argument."""
    m = 1 << p
    wbits = 60 - p
    zrho = wbits + 1
    # NULL values carry no identity — drop them rather than hashing a
    # NULL into a phantom register
    df = df.filter(F.col(value_col).isNotNull())
    base = df.select(
        *group_cols,
        F.expr(
            f"cast(conv(substring(md5({value_col}), 1, 15), 16, 10)"
            " as bigint)"
        ).alias("__h"),
    ).select(
        *group_cols,
        (F.col("__h") % m).alias("__bucket"),
        F.expr(f"__h div {m}L").alias("__w"),
    )
    rho = F.when(
        F.col("__w") > 0, F.lit(zrho) - F.length(F.expr("bin(__w)"))
    ).otherwise(F.lit(zrho))
    return base.withColumn("__rho", rho).groupBy(
        *group_cols, "__bucket"
    ).agg(F.max("__rho").alias("__r"))


def hll_estimate_from_registers(
    regs: DataFrame,
    group_cols: list[str],
    p: int = 8,
) -> DataFrame:
    """Finalize HLL registers (``__bucket``, ``__r`` columns from
    :func:`hll_registers`, possibly unioned across stores and max-merged
    upstream) into per-group estimates. Empty buckets never materialize:
    an OBSERVED register always has r >= 1 (rho >= 1 by construction),
    so the 2^p - observed missing buckets contribute the closed-form
    ``(m - cnt) * 2^zrho`` to the raw sum and ``m - cnt`` to the
    linear-counting zero count — one agg, no grid join (and no
    self-join lineage conflicts on re-read register sinks)."""
    m = 1 << p
    zrho = (60 - p) + 1
    agg = regs.groupBy(*group_cols).agg(
        F.sum(F.expr(f"shiftleft(1L, {zrho} - __r)")).alias("__sobs"),
        F.count(F.lit(1)).alias("__cnt"),
    )
    agg = agg.select(
        *group_cols,
        (
            F.col("__sobs")
            + (F.lit(m) - F.col("__cnt"))
            * F.expr(f"shiftleft(1L, {zrho})")
        ).alias("__s"),
        (F.lit(m) - F.col("__cnt")).alias("__v"),
    )
    alpha = "(0.7213 / (1.0 + 1.079 / %d.0))" % m
    e_raw = (
        f"({alpha} * {m}.0 * {m}.0 * cast(shiftleft(1L, {zrho})"
        " as double)) / cast(__s as double)"
    )
    e_lc = f"{m}.0 * ln({m}.0 / cast(__v as double))"
    est = (
        f"case when ({e_raw}) <= {2.5 * m} and __v > 0"
        f" then ({e_lc}) else ({e_raw}) end"
    )
    return agg.select(
        *group_cols,
        F.expr(f"round({est}, 6)").alias("hll_estimate"),
    )


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 8,
) -> DataFrame:
    """HyperLogLog distinct-count sketch (Flajolet et al. 2007) built
    from scratch on md5 hashes — the mergeable cardinality state a
    100 TB pipeline keeps per source/day (registers are per-bucket
    maxima: constant size, mergeable by element-wise max, the y41
    sketch contract). Returns (group_cols..., hll_estimate) with the
    standard small-range linear-counting correction.

    Unlike ``approx_count_distinct`` (whose HLL++ internals no other
    engine reproduces), EVERY stage here is value-exact cross-engine:
    the 60-bit md5 hash splits into a ``2^p``-bucket index and a 52-bit
    suffix; rho = 53 - length(bin(w)) is integer; registers are an
    integer max-agg; the raw sum folds as ``sum(1L << (53 - r))`` — an
    exact BIGINT (max 2^61 at p=8) — and the estimate is ONE double
    expression over those integers, so a SQL oracle replicates the
    whole sketch bit-for-bit. Large-range correction is omitted (the
    60-bit hash space makes collisions negligible at any realistic
    cardinality); small-range uses linear counting when
    ``E <= 2.5 * m`` and empty buckets exist.

    Shape: one hash-agg bounded at |groups| x 2^p rows, a broadcast
    bucket grid to materialize empty registers, one final agg — nothing
    scales with the corpus beyond the first map-side pass."""
    regs = hll_registers(df, group_cols, value_col, p)
    return hll_estimate_from_registers(regs, group_cols, p)


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    strata_cols: list[str] | None = None,
    id_col: str = "doc_id",
    seed_tag: str = "v1",
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis & Spirakis
    2006): each row draws a deterministic uniform u from
    ``md5(seed_tag | id)`` and ranks by the exponential key
    ``ln(u) / w`` — the top-k keys are EXACTLY a weight-proportional
    sample without replacement, per stratum if ``strata_cols`` is
    given. The token-budget sampler: weight by length and big docs are
    drawn proportionally without ever grouping by weight.

    Deterministic and mergeable like y42's uniform draw (membership is
    a pure function of the id; rotating ``seed_tag`` reshuffles
    atomically); distributed shape is the same single strata-keyed
    window over map-side keys. Rows with NULL or non-positive weight
    cannot be drawn and are excluded.

    Exactness: u = (h + 1) / (2^60 + 1) is an exact rational in double
    (h the 60-bit md5 int), ``ln(u) / w`` is one double expression, and
    the ranking compares its ppb-quantized BIGINT (ties by id) — the
    y49/y54 quantization pattern, value-exact cross-engine."""
    strata = strata_cols or []
    h = (
        f"cast(conv(substring(md5(concat_ws('|', '{seed_tag}',"
        f" cast({id_col} as string))), 1, 15), 16, 10) as bigint)"
    )
    key = (
        f"cast(round((ln((cast({h} as double) + 1.0d)"
        f" / 1152921504606846977.0d) / cast({weight_col} as double))"
        " * 1000000000.0, 0) as bigint)"
    )
    w = Window.partitionBy(
        *[F.col(c) for c in strata] if strata else [F.lit(1)]
    ).orderBy(F.col("__key").desc(), F.col(id_col).asc())
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__key", F.expr(key))
        .withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= k)
        .drop("__key")
    )


# ---------------------------------------------------------------------------
# Trainable quality classifier (fastText / DCLM-style) — round-9 verdict
# item 6: the third standard quality tier next to rule filters (y34) and LM
# perplexity terciles (y39). A logistic classifier over hashed unigram
# features, trained on a labeled seed set and applied corpus-wide map-side.
# ---------------------------------------------------------------------------

# fixed-point scale for weights/margins: 1 weight unit = 1e-12
_QC_SCALE = 1_000_000_000_000


def hashed_feature_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """Hashed-unigram feature counts per doc: ``(doc_id, bkt, c)`` with
    ``bkt = md5-60bit(token) % n_buckets`` (the y49 bucket idiom —
    engine-identical) plus one intercept row ``bkt = -1, c = 1`` per
    doc. Map-side explode + one hash-agg; the feature space is bounded
    at ``n_buckets`` regardless of vocabulary, the hashing-trick
    contract that lets the same pipeline run at any corpus scale."""
    tk = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    feats = tk.groupBy(
        "doc_id",
        F.expr(
            f"cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)"
            f" % {n_buckets}"
        ).alias("bkt"),
    ).agg(F.count(F.lit(1)).alias("c"))
    intercept = docs.select(
        F.col(id_col).alias("doc_id"),
        F.lit(-1).cast("bigint").alias("bkt"),
        F.lit(1).cast("bigint").alias("c"),
    )
    return feats.unionByName(intercept)


def _qc_round_half_up(fr) -> int:
    """floor(x + 1/2) — the one rounding the training loop ever does,
    fixed so the pure-Python twin and any reimplementation agree on
    every half exactly."""
    from fractions import Fraction

    return int((fr + Fraction(1, 2)).__floor__())


def quality_classifier_train(
    docs: DataFrame,
    label: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    iters: int = 8,
    lr_ppm: int = 500_000,
) -> DataFrame:
    """Train a logistic quality classifier on hashed unigram features —
    the fastText/DCLM seed-set filter shape (wiki-vs-crawl): ``label``
    is the 0/1 seed membership, features are :func:`hashed_feature_counts`
    buckets, and training is batch gradient descent with a HARD-SIGMOID
    surrogate sigma_h(z) = clamp(z/4 + 1/2, 0, 1).

    Why hard-sigmoid: it keeps EVERY training quantity in exact integer
    arithmetic — margins are BIGINT fixed-point (1e-12 units), residuals
    are exact integers, gradient sums are exact DECIMAL — so the learned
    weights are bit-identical across engines, partitionings, and the
    pure-Python twin (pinned in tests), the same determinism discipline
    as the y51 BPE trainer. exp() would differ by ULPs between libm and
    the JVM and make training silently non-reproducible.

    Scale shape (parameter-server geometry): the corpus only ever flows
    through two hash-aggs per iteration (per-doc margin, per-bucket
    gradient) with the weight vector BROADCAST into the join — nothing
    corpus-sized reaches the driver; what the driver updates is the
    n_buckets-sized gradient (hashing-trick-bounded). Returns
    ``(bkt, wq)`` — fixed-point weights, ``w = wq / 1e12``; intercept
    at ``bkt = -1``.

    Iterative (multi-action) training => rows-only catalog entry by
    design, like y51; APPLICATION (:func:`quality_classifier_apply`)
    carries the full value oracle."""
    from fractions import Fraction

    spark = docs.sparkSession
    d = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"),
        label.cast("bigint").alias("y"),
    )
    feats = hashed_feature_counts(d, "doc_id", "text", n_buckets)
    feats = feats.localCheckpoint(eager=True)
    labels = d.select("doc_id", "y").localCheckpoint(eager=True)
    n_docs = labels.count()
    if n_docs == 0:
        return spark.createDataFrame([], "bkt BIGINT, wq BIGINT")

    w: dict[int, int] = {}
    for _ in range(iters):
        if w:
            w_df = spark.createDataFrame(
                list(w.items()), "bkt BIGINT, wq BIGINT"
            )
            margins = (
                feats.join(broadcast(w_df), "bkt")
                .groupBy("doc_id")
                .agg(
                    F.sum(
                        F.col("c").cast("decimal(19,0)")
                        * F.col("wq").cast("decimal(19,0)")
                    )
                    .cast("bigint")
                    .alias("mq")
                )
            )
        else:  # first pass: all weights zero
            margins = labels.select("doc_id", F.lit(0).cast("bigint").alias("mq"))
        # resid4 = 4e12 * (sigma_h(margin) - y), all-integer:
        # sigma4 = clamp(mq + 2e12, 0, 4e12) is 4e12 * sigma_h
        resid = (
            labels.join(margins, "doc_id", "left")
            .select(
                "doc_id",
                (
                    F.greatest(
                        F.lit(0).cast("bigint"),
                        F.least(
                            F.lit(4 * _QC_SCALE).cast("bigint"),
                            F.coalesce(F.col("mq"), F.lit(0))
                            + F.lit(2 * _QC_SCALE),
                        ),
                    )
                    - F.col("y") * F.lit(4 * _QC_SCALE)
                ).alias("r4"),
            )
        )
        # resid is corpus-sized (one row per doc) — pin the join to a
        # shuffle strategy so a size misestimate can never plan a
        # corpus-sized broadcast (observed at x100: driver OOM building
        # the broadcast table)
        grad_rows = (
            feats.join(resid.hint("shuffle_hash"), "doc_id")
            .groupBy("bkt")
            .agg(
                F.sum(
                    F.col("r4").cast("decimal(24,0)")
                    * F.col("c").cast("decimal(14,0)")
                ).alias("g4")
            )
            .collect()
        )
        # driver-side update (n_buckets rows): w -= lr * grad / n, in
        # exact rationals, quantized half-up to 1e-12 units
        for row in grad_rows:
            g4 = Fraction(int(row["g4"]))
            delta = Fraction(lr_ppm, 1_000_000) * g4 / (4 * n_docs)
            b = int(row["bkt"])
            w[b] = w.get(b, 0) - _qc_round_half_up(delta)
    return spark.createDataFrame(
        sorted(w.items()), "bkt BIGINT, wq BIGINT"
    ).filter(F.col("wq") != 0)


def quality_classifier_apply(
    docs: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """Score every doc with a trained hashed-feature classifier: ONE
    map-side pass — features explode map-side, the weight vector
    (n_buckets-bounded) broadcasts into the join, and the margin is an
    exact fixed-point sum, so keep/drop decisions can never flip across
    engines or partitionings. Returns
    ``(doc_id, margin_pq BIGINT, keep BOOLEAN)`` — margin_pq is the
    EXACT margin in 1e-12 units (divide for the real-valued reading;
    the first cut emitted round(mq/1e12, 9) as a DOUBLE and the sf1
    organic sweep caught a real tie: mq tails of ...0500 round
    differently between Spark's decimal-string HALF_UP and DuckDB's
    binary-double rounding — the exact integer has nothing to tie);
    ``keep = margin_pq > 0``."""
    d = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    feats = hashed_feature_counts(d, "doc_id", "text", n_buckets)
    mq = (
        feats.join(broadcast(weights), "bkt")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("c").cast("decimal(19,0)")
                * F.col("wq").cast("decimal(19,0)")
            )
            .cast("bigint")
            .alias("mq")
        )
    )
    return d.join(mq, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("mq"), F.lit(0)).cast("bigint").alias("margin_pq"),
        (F.coalesce(F.col("mq"), F.lit(0)) > 0).alias("keep"),
    )


def cumulative_distinct_daily(
    events: DataFrame,
    ts_col: str = "ts",
    id_col: str = "user_id",
    p: int = 8,
) -> DataFrame:
    """Cumulative distinct-entity counts over a day series ("users seen
    to date"), exact AND sketched, per day: ``(day, n_new,
    exact_cum_distinct, hll_cum_estimate, rel_error)``.

    Two scale-honest tiers, each avoiding the naive
    rescan-history-per-day shape:

    - EXACT via FIRST APPEARANCE: cumulative distinct at day d is the
      number of entities whose first-seen day is <= d — one entity-
      keyed agg (min day per entity, the only entity-sized shuffle)
      + a day-table-sized running sum. History is never rescanned.
    - SKETCH via REGISTER MAX-MERGE: per-day HLL registers
      (:func:`hll_registers`), then a cumulative per-bucket MAX over
      the day sequence — registers merge by max, so day d's cumulative
      sketch is exactly the sketch of all events <= d without touching
      them again. The window runs on the days x 2^p register grid
      (bounded metadata, never data); a NEW day folds in at register
      cost, which is what an incremental daily pipeline and the
      streaming stores both exploit.

    Every sketch stage is the y61 value-exact HLL (md5 buckets,
    integer rho, exact BIGINT 2^-r fold, one double expression at the
    end), so the oracle checks the ESTIMATES bit-for-bit; rel_error
    audits the sketch against the exact tier per day."""
    m = 1 << p
    zrho = (60 - p) + 1
    days = events.select(
        F.to_date(F.col(ts_col)).alias("day"),
        F.col(id_col).cast("string").alias("v"),
    ).filter(F.col("v").isNotNull() & F.col("day").isNotNull())
    all_days = days.select("day").distinct()
    # exact tier: first appearance per entity -> day-grid running sum
    news = (
        days.groupBy("v")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new"))
    )
    wday = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    exact = (
        all_days.join(news, "day", "left")
        .select("day", F.coalesce("n_new", F.lit(0)).alias("n_new"))
        .withColumn(
            "exact_cum_distinct",
            F.sum("n_new").over(wday).cast("bigint"),
        )
    )
    # sketch tier: per-day registers -> bucket grid -> cumulative max
    regs = hll_registers(days, ["day"], "v", p)
    grid = all_days.crossJoin(
        F.broadcast(
            days.sparkSession.range(m).select(
                F.col("id").cast("bigint").alias("__bucket")
            )
        )
    )
    wbucket = (
        Window.partitionBy("__bucket")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        grid.join(regs, ["day", "__bucket"], "left")
        .select(
            "day",
            "__bucket",
            F.coalesce("__r", F.lit(0)).alias("__r0"),
        )
        .withColumn("__rc", F.max("__r0").over(wbucket))
    )
    agg = cum.groupBy("day").agg(
        F.sum(F.expr(f"shiftleft(1L, {zrho} - __rc)"))
        .cast("bigint")
        .alias("__s"),
        F.sum((F.col("__rc") == 0).cast("bigint")).alias("__v"),
    )
    alpha = "(0.7213 / (1.0 + 1.079 / %d.0))" % m
    e_raw = (
        f"({alpha} * {m}.0 * {m}.0 * cast(shiftleft(1L, {zrho})"
        " as double)) / cast(__s as double)"
    )
    e_lc = f"{m}.0 * ln({m}.0 / cast(__v as double))"
    est = (
        f"case when ({e_raw}) <= {2.5 * m} and __v > 0"
        f" then ({e_lc}) else ({e_raw}) end"
    )
    sk = agg.select("day", F.expr(f"round({est}, 6)").alias("hll_cum_estimate"))
    return exact.join(sk, "day").select(
        "day",
        "n_new",
        "exact_cum_distinct",
        "hll_cum_estimate",
        F.round(
            (F.col("hll_cum_estimate") - F.col("exact_cum_distinct"))
            / F.col("exact_cum_distinct"),
            6,
        ).alias("rel_error"),
    )
