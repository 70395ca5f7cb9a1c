"""Scaling-curve bench: run a battery of headline queries and the
approximate-mode dedup/ANN operator paths at x1 / x10 / x100 of the
sf0.1 corpus (tools/gen_scale.py output) and record per-query scaling
exponents — the empirical backing for every "would survive 100 TB"
claim that previously rested on plan inspection over 17 MB.

Usage:  python tools/bench_scale.py [--sizes 1,10,100] [--out BENCH_scale.json]
        [--only name1,name2] [--merge]

``--only`` restricts the battery to the named entries; ``--merge`` folds
the measured results into the existing curves of ``--out`` (re-measuring
a flagged or contention-suspect entry without the full 1.5 h suite);
without it the curves are replaced. Either way only this tool's sections
are written: the ``streaming``, ``sf1_organic`` and ``cores_scaling``
sections other tools record in the same file are left as they are.

For each query and size the job runs twice after tools/harness.py's
warm-up and is timed by its ``time_noop`` (build plus noop-sink write);
the min reports steady-state plan cost, discarding first-run codegen.
The scaling exponent between consecutive sizes is
``alpha = log(t_b/t_a) / log(b/a)``:

- alpha <= ~1.1  -> linear (ideal: data grew 10x, time grew 10x)
- 1.1 < alpha <= ~1.3 -> n log n-ish (acceptable: sorts/shuffles)
- alpha > 1.3 sustained at the largest step -> super-linear; the plan
  needs a diff (recorded as "flag": true in the output)

x1 times are dominated by fixed session/stage overheads (~0.2-0.5 s),
which DEFLATES alpha_1_10; alpha_10_100 is the honest signal and is
what the flag is computed from.

The dedup/ANN entries measure the SCALE routes explicitly (LSH tier
forced for token-Jaccard, IVF-cell route forced for embedding near-dup,
sample-trained centroids assigned over the full corpus for ANN), not the
exact tiers the small-sf catalog pins for oracle checking.
"""

from __future__ import annotations

import functools
import json
import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from pw_etl_scrumptious_squad_spark import catalog as catmod
from pw_etl_scrumptious_squad_spark.operators import (
    bucketed,
    curation,
    dedup,
    graph,
    linkage,
    similarity,
    sketches,
    stats,
    text,
)
from pw_etl_scrumptious_squad_spark.session import get_spark
from pw_etl_scrumptious_squad_spark.sources.parquet import read_table
from tools.harness import load_json, time_noop, update_json_section, warm_up

# catalog entries that already express the 100 TB shape (map-side /
# one-shuffle / broadcast-dim queries) — timed as-is over the scaled dirs
CATALOG_QUERIES = [
    "q01_pricing_summary",     # lineitem agg (60M rows at x100)
    "q03_window_topn_per_group",  # join + window top-n (join-heavy)
    "q09_events_hourly",       # events window agg (10M rows at x100)
    "q10_sessionize",          # session windows per user
    "q16_local_supplier_volume",  # multi-table join-heavy
    "z29_bloom_semi_join",     # bloom-pruned semi join
    "d01_exact_dedup",         # hash-groupBy dedup
    "d03_minhash_signatures",  # signature generation
    "d05_minhash_lsh_pairs",   # banded LSH + verify
    "t01_token_stats",         # map-side token stats
    "t06_tfidf_topk",          # explode + two hash aggs
    "y08_decontamination",     # broadcast eval side
    "y16_source_quota",        # per-source quota sampling
    "y34_quality_rules",       # map-side rule battery
    "y42_exact_k_sample",      # deterministic exact-k sample
    "m01_media_features",      # codec-bound mapInPandas decode
    "m04_image_dhash",         # mapInPandas Arrow path
    "s01_cosine_topk",         # broadcast-query brute force
    "x01_curation_pipeline",   # staged curation composition
    "y30_srp_wide",            # wide SRP banding (embeddings)
    "y31_simhash_wide",        # wide text SimHash banding (EXACT tier;
                               # auto-widens to the combinatorial
                               # piece-pair geometry past ~60k docs)
    "y14_incremental_neardup", # store+batch incremental LSH
    "x02_fineweb_pipeline",    # staged curation pipeline
    "x03_crawl_pipeline",      # extraction->quality->URL-dedup, 1 shuffle
    "x04_image_neardup_pipeline",  # decode->dHash->star-hamming->CC->canon
    "x05_warc_corpus_pipeline",    # WARC->robots->extract->quality->dedup
    "y70_warc_ingest",             # binary record split + header parse
    "y52_char_entropy",        # per-char explode + alphabet-bounded agg
    "y54_zipf_slope",          # corpus explode + vocab-sized window
    "c11_star_lifecycle",      # 11-table star transform (round 8):
                               # broadcast-dim joins + map-side facts
                               # over keyed orders/lineitem replicas
    "y77_exact_substring_dedup",  # ExactSubstr, depth-k gram tier:
                               # posexplode positions + md5 digests +
                               # hash-agg + per-doc splice (round 9)
    "y78_exact_substring_sa",  # ExactSubstr, per-shard suffix-array
                               # tier (truncated prefix doubling +
                               # digest merge) — same output as y77
    "y80_quality_classifier_apply",  # broadcast weight vector, one
                               # map-side pass; training hoisted via
                               # the per-sf memo (first discarded run
                               # of the min-of-2 protocol absorbs it)
    "y81_part_pagerank",       # 8 integer PageRank iterations: one
                               # contribution shuffle per round over
                               # the part transition graph (round 9);
                               # per-copy key offsets keep components
                               # disconnected, so growth is linear in
                               # edges — the honest iterative shape
    "y82_heavy_hitters",       # two-phase Misra-Gries + recount; the
                               # full term universe is never shuffled
    "y83_zorder_skipping",     # manifest-skipped 2-D box query; the
                               # one-time layout write is the per-sf
                               # memoized hoist (first discarded run
                               # absorbs it), the timed query reads
                               # the pruned file subset only
    "y84_entity_resolution",   # distinct-name table is vocab-bounded:
                               # mentions grow 100x, the blocked
                               # pair/CC core stays constant — the
                               # curve should be FLAT past the scan
    "y85_exact_quantiles",     # ~5 histogram passes per percentile
                               # over the cached cents column — the
                               # no-sort exact-percentile path; growth
                               # tracks the scan, passes stay constant
    "y86_table_profile",       # one Expand-widened aggregation pass
                               # (exact distinct — the oracle tier; the
                               # HLL tier is curved as
                               # op_table_profile_hll)
    "y87_gap_fill_hourly",     # per-key hour grid + ONE per-key window
                               # forward fill; grid grows with events
    "y90_quantile_sketch",     # one map-side bucket hash-agg; the
                               # shuffle is the <=8k-row bucket
                               # universe whatever the input size —
                               # the curve should track the scan
    "y91_bloom_point_lookup",  # sidecar-probed point lookup: one
                               # metadata-scan probe + <=4 admitted
                               # files whatever the corpus size — the
                               # curve should be nearly FLAT (the
                               # one-time clustered write + index is
                               # the amortized hoist)
]

# Entries measured only up to a size. (Round-4 capped y31 at x10 because
# its 16-bit exact-tier bands crossed the birthday bound at 500k docs;
# the combinatorial piece-pair geometry removed that term, so y31 now
# carries its own x100 point and the cap list is empty for catalog
# entries.) op_bpe_train_batched measures the batched driver loop's
# x1/x10 point (round-6 verdict item 3): past x10 the synthetic corpus
# stops growing the vocabulary, so larger sizes only re-measure the
# word-freq scan that t01 already curves.
MAX_SIZE: dict[str, int] = {
    "op_bpe_train_batched": 10,
    # triangle closing joins a per-copy ~1e7-row wedge stream; copies
    # are inert so cost is exactly linear in k — the x10 point already
    # demonstrates it, and x100 would only re-measure join throughput
    # for ~10 minutes
    "op_triangle_count": 10,
}

# Headline bench entries NOT in the curve, each with its exclusion
# reason — a curve entry already measures the identical physical shape,
# or the cost is constant-size by construction. Emitted into the
# payload so coverage gaps are explicit, not silent.
EXCLUDED = {
    "z02_topk_pagination": "constant-k TakeOrderedAndProject over one "
        "scan; q03 curves the window/top-n shape",
    "q04_rollup": "single hash-agg shuffle over lineitem — q01's exact "
        "physical shape with rollup grouping sets",
    "q11_outer_join_agg": "broadcast-dim outer join + one hash agg; "
        "q16 curves the multi-join shape",
    "q15_shipping_priority": "broadcast-dim join + agg + constant-k "
        "top-n; q03/q16 cover both stages",
    "q18_lead_lag": "single window shuffle over events; q09/q10 curve "
        "the events window shape",
    "z22_big_orders": "hash-agg + same-key join on l_orderkey; q01 "
        "(agg) + q16 (join) cover both stages",
    "r06_cdc_filter": "map-side disjunctive filter, no shuffle; linear "
        "by construction (t01 curves the map-side scan)",
    "r11_fact_build": "map-side projection/rename, no shuffle",
    "r13_keep_newest": "one window shuffle on the CDC key; q10 curves "
        "the per-key window shape",
    "t03_fingerprint": "map-side rolling hash, no shuffle; t01 curves",
    "t05_bpe_tokens": "map-side regex tokenize, no shuffle; t01 curves",
    "y12_sequence_packing": "pack-id agg after map-side chunking; t06 "
        "curves the explode+agg shape",
    "y13_snapshot_diff": "full-outer join on doc_id between two "
        "snapshots; q16 curves the shuffle-join shape",
    "y15_embedding_srp": "banded hamming over SRP signatures — y30 is "
        "the same operator on the same table at wider bits",
    "y28_dup_span_removal": "anchor explode + hash agg + semi join; "
        "t06 + z29 cover the stages",
    "y32_bigram_logprob": "explode + two hash aggs + broadcast model "
        "row; t06 curves the shape",
    "y33_bm25_topk": "explode + hash agg + broadcast stats + "
        "TakeOrdered; t06 curves",
    "y40_shingle_novelty": "shingle explode + min-agg + broadcast "
        "join; y08 curves the shingle shape",
    "y48_semdedup_prune": "catalog entry pins the oracle-matched "
        "expression path; op_semdedup_matmul curves the scale route",
    "d02_ngram_jaccard": "catalog entry pins the exact tier; "
        "op_jaccard_lsh_route curves the scale route",
    "d06_embedding_neardup": "catalog entry pins tier by size; "
        "op_embed_ivf_route forces the IVF scale route",
    "s02_ivf_topk": "catalog entry trains in-query; "
        "op_ivf_assign_probe curves assignment+probe with amortized "
        "training",
    "y49_dsir_weights": "bigram explode + bounded bucket agg + "
        "broadcast weights + doc agg; t06 curves the explode+agg "
        "shape and y08 the broadcast-join shape",
    "y50_segment_dedup": "segment explode + one hash-agg argmin + "
        "join back + doc agg; t06/y40 curve the identical "
        "explode-hash-join skeleton",
    "y51_bpe_train": "driver-loop iterative: the corpus is touched "
        "once by a t01-shaped word-freq hash-agg; all 24 rounds run "
        "on the vocabulary table (bounded by distinct words, not "
        "corpus bytes), so a size sweep measures the vocab growth of "
        "the synthetic corpus, not the operator's corpus exponent",
    "y53_hard_negatives": "catalog entry pins the exact all-pairs "
        "expression tier (inherently quadratic — exact mining IS "
        "all-pairs); op_hardneg_ivf curves the sub-quadratic probed "
        "scale route",
    "y55_source_kl": "explode into a bounded |sources| x 4096 bucket "
        "hash-agg + constant-size smoothed grid — y49's exact bucket "
        "shape; t01 curves the map-side explode",
    "y56_stratified_split": "one strata-keyed window + broadcast quota "
        "join; q10 curves the per-key window shape",
    "y58_bpe_encode": "trains in-query (y51's driver loop) before the "
        "apply; the apply itself is vocab hash-agg + broadcast map-back "
        "+ doc agg — t06's skeleton (y51's exclusion covers the loop)",
    "y64_audio_vad": "codec-bound mapInPandas over per-doc synthetic "
        "payloads; m01/m04 curve the identical Arrow-decode shape",
    "y59_pq_adc_topk": "trains in-query (the s02 exclusion); encode is "
        "a broadcast join + map-side min_by, ADC a broadcast-lut join + "
        "hash agg — op_ivf_assign_probe curves the assign+probe shape",
    "y60_lsh_recall": "deliberately quadratic: the ground-truth side is "
        "brute-force all-pairs — a sample-scale AUDIT, never run at "
        "corpus scale (d05 curves the production pipeline it audits)",
    "y61_hll_distinct": "map-side hash + bounded |sources| x 256 "
        "register agg + constant grid; t01 curves the map-side scan "
        "(the exact_distinct comparison column is gate-scale reporting, "
        "not part of the sketch path)",
    "y62_weighted_sample": "one strata-keyed window over map-side "
        "keys — y42/q10's exact window shape",
    "y63_pmi_collocations": "bigram explode + hash-aggs + "
        "TakeOrdered; t06 curves the identical skeleton",
    "y57_oov_rate": "explode + hash-agg + broadcast left join + doc "
        "agg; t06 curves the identical skeleton",
    "y88_unigram_train": "driver-loop iterative (the y51 exclusion): "
        "the corpus is touched once by a t01-shaped word-freq "
        "hash-agg; every EM round runs on the vocabulary-sized word "
        "table, so a size sweep measures the synthetic corpus's vocab "
        "growth, not the operator's corpus exponent",
    "y89_unigram_encode": "trains in-query before the apply (the y58 "
        "convention); the apply itself is curved as op_unigram_encode "
        "under a per-size pre-trained vocab",
}


def zipf_documents(docs, n_docs: int, mean_cluster: int = 50):
    """Derive a ZIPFIAN-CLUSTERED duplicate corpus from the size-scaled
    documents table, pure column expressions (scales with the input):
    cluster id k = floor(K^(u)) with u = doc_id/N uniform gives cluster
    sizes ~ 1/k (Zipf s=1) — the head cluster holds ~ln2/lnK of the
    corpus (tens of thousands of IDENTICAL docs at x100), the regime
    where LSH buckets and hamming bands explode unless star-collapse /
    identical-signature capping bounds them. 90% of a cluster is
    byte-identical text; 10% carries one extra token (the near-dup band
    path). Used by the op_*_zipf scale entries the round-6 verdict asked
    for: the adversarial battery checks this shape at fixed size, these
    curve it at x1/x10/x100."""
    k_clusters = max(100, n_docs // mean_cluster)
    return docs.select(
        "doc_id",
        F.expr(
            f"cast(pow({k_clusters}, (doc_id % {n_docs}) / {n_docs})"
            " as bigint)"
        ).alias("__cl"),
    ).select(
        "doc_id",
        F.expr(
            "concat(array_join(transform(sequence(1, 40),"
            " j -> substring(md5(concat(cast(__cl as string), '-',"
            " cast(j as string))), 1, 6)), ' '),"
            " CASE WHEN doc_id % 10 = 0 THEN"
            " concat(' ', substring(md5(cast(doc_id as string)), 1, 6))"
            " ELSE '' END)"
        ).alias("text"),
    )


def _image_neardup_scaled(docs_df, n_docs: int):
    """x04's pipeline with corpus-proportional mirror groups (constant
    ~100-doc group size — the realistic crawl geometry; the catalog
    entry pins 50 groups for its closed-form oracle instead)."""
    from pw_etl_scrumptious_squad_spark.operators import multimodal as mm

    hashes = mm.image_dhash(
        mm.synthetic_ppm_mirrored(docs_df, mirror_groups=max(50, n_docs // 100))
    ).select(F.col("asset_id").alias("doc_id"), "dhash")
    pairs = dedup.hamming_near_pairs(
        hashes, bits=64, bands=8, max_hamming=4, sig_col="dhash",
        star_identical=True,
    )
    scored = docs_df.select(
        "doc_id", F.length("text").cast("int").alias("quality_score")
    )
    return dedup.keep_canonical(scored, pairs, score_col="quality_score")


def _pf_large_vocab_docs(spark, n_docs: int):
    """Large-vocabulary near-dup corpus for the prefix-filter route:
    docs 2k and 2k+1 share a 6-token md5 core (vocabulary ~3.5 x
    n_docs distinct tokens overall);
    each doc = 6-token shared core + 1 private noise token, so a mate
    pair has J = 6/8 = 0.75 >= the 0.7 threshold and every non-mate
    pair shares nothing. Tokens are
    md5-derived (no real-vocab skew), so document frequencies are ~2
    for cores and ~1 for noise — the regime prefix filtering is FOR."""
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            # 6-token core shared with the pair mate (id DIV 2)
            *[
                F.md5(F.concat(F.lit(f"core{j}_"), (F.col("id") / 2).cast("bigint").cast("string")))
                for j in range(6)
            ],
            # 1 per-doc noise token
            F.md5(F.concat(F.lit("noise_"), F.col("id").cast("string"))),
        ).alias("text"),
    )


def _er_dirty_names(spark, n_docs: int):
    """Synthetic dirty-name corpus for the ER scale route: the catalog
    entry's part-name universe is vocab-bounded (the y84 curve is
    deliberately flat), so this route grows the DISTINCT-name universe
    with the corpus — last-token blocking keys with cardinality
    ~n/50 keep blocks ~constant-size (the selective-key regime real
    blocking is tuned for), so candidate pairs grow LINEARLY while
    every stage (distinct, blocked self-join, levenshtein verify, CC,
    broadcast map-back) runs at full width."""
    adj = F.array(*[F.lit(a) for a in (
        "amber", "brisk", "coral", "dusty", "eager", "frost", "gilt",
        "hazel", "ivory", "jade", "khaki", "lilac", "mauve", "noble",
        "ochre", "pearl",
    )])
    n_blocks = max(4, n_docs // 50)
    base = spark.range(n_docs).select(
        F.concat(
            F.element_at(adj, (F.pmod(F.xxhash64("id"), F.lit(16)) + 1).cast("int")),
            F.lit(" item"),
            F.pmod(F.col("id"), F.lit(n_blocks)).cast("string"),
        ).alias("clean"),
        F.col("id"),
    )
    return base.select(
        F.when(F.col("id") % 7 == 0, F.expr("substring(clean, 2)"))
        .when(
            F.col("id") % 7 == 1,
            F.concat(F.expr("substring(clean, 1, 1)"), F.col("clean")),
        )
        .otherwise(F.col("clean"))
        .alias("mention")
    )


def operator_queries(spark, d: str, n_docs: int, n_vecs: int, cents):
    """Scale-route operator battery: name -> thunk building the frame."""
    docs = lambda: read_table(spark, d, "documents")  # noqa: E731
    emb = lambda: read_table(spark, d, "embeddings")  # noqa: E731

    _size_cents_cache = []

    def size_cents():
        # corpus-proportional centroids (k ~ rows/2000, min 16), trained
        # once per size on the size's own embeddings — amortized like
        # the ANN entry's training: the first (discarded) run of the
        # min-of-2 protocol absorbs the one-time training cost
        if not _size_cents_cache:
            k = max(16, n_vecs // 2000)
            c = similarity.train_ivf_centroids(emb(), k=k)
            _size_cents_cache.append(
                spark.createDataFrame(
                    c.collect(), "centroid_id INT, embedding ARRAY<FLOAT>"
                )
            )
        return _size_cents_cache[0]

    _inc_cc_cache = []

    def inc_cc_parts():
        # one-time per size: LSH pairs over the full corpus, 98/2
        # base/batch split, committed base labels — all localCheckpointed
        # so the timed fold re-runs touch none of it
        if not _inc_cc_cache:
            d_all = docs().select("doc_id", "text")
            pairs = (
                dedup.minhash_lsh_dedup(
                    d_all, "doc_id", num_perm=16, bands=8, threshold=0.5
                )
                .select("doc_a", "doc_b")
                .localCheckpoint()
            )
            base_docs = d_all.select("doc_id").filter(
                F.col("doc_id") % 50 != 0
            )
            base_pairs = pairs.filter(
                (F.col("doc_a") % 50 != 0) & (F.col("doc_b") % 50 != 0)
            )
            batch_pairs = pairs.filter(
                (F.col("doc_a") % 50 == 0) | (F.col("doc_b") % 50 == 0)
            ).localCheckpoint()
            base_labels = dedup.connected_components(
                base_pairs, base_docs, "doc_id"
            ).localCheckpoint()
            new_nodes = (
                d_all.select("doc_id")
                .filter(F.col("doc_id") % 50 == 0)
                .localCheckpoint()
            )
            _inc_cc_cache.append((base_labels, batch_pairs, new_nodes))
        return _inc_cc_cache[0]

    _uni_vocab_cache = []

    def uni_vocab():
        # unigram vocab trained once per size (amortized like size_cents:
        # the first, discarded run of the min-of-2 protocol absorbs the
        # driver-loop training) — the timed thunk measures the APPLY
        # shape: Viterbi DP on the distinct-word table + broadcast
        # map-back + per-doc agg
        if not _uni_vocab_cache:
            v = text.unigram_train(
                docs(), vocab_size=48, max_piece_len=4,
                seed_size=128, iters=2,
            )
            _uni_vocab_cache.append(
                {r["piece"]: int(r["cost_q"]) for r in v.collect()}
            )
        return _uni_vocab_cache[0]

    _wp_vocab_cache = []

    def wp_pieces():
        # WordPiece vocab trained once per size (amortized like
        # uni_vocab: the first, discarded run of the min-of-2 protocol
        # absorbs the driver-loop training)
        if not _wp_vocab_cache:
            merges = text.wordpiece_train(docs(), num_merges=24)
            _wp_vocab_cache.append(
                text.wordpiece_alphabet(docs())
                + [r["merged"] for r in merges.collect()]
            )
        return _wp_vocab_cache[0]

    _size_cb_cache = []

    def size_cb():
        # PQ codebooks trained once per size (amortized like size_cents;
        # ksub=16 keeps the 8 per-subspace k-means fits cheap — the
        # curve measures the encode+probe shape, not recall)
        if not _size_cb_cache:
            c = similarity.train_pq_codebooks(emb(), m=8, ksub=16)
            _size_cb_cache.append(
                spark.createDataFrame(
                    c.collect(), "sub INT, code INT, center ARRAY<FLOAT>"
                )
            )
        return _size_cb_cache[0]
    return {
        # forced LSH tier (the >100k-rows route) at every size
        "op_jaccard_lsh_route": lambda: dedup.ngram_jaccard_pairs(
            docs(), "doc_id", "text", "lang", 0.9,
            max_exact_rows=0, n_rows_hint=n_docs,
        ),
        # forced IVF-cell route for embedding near-dup at every size
        "op_embed_ivf_route": lambda: dedup.embedding_neardup_pairs(
            emb(), threshold=0.95, max_exact_rows=0, n_rows_hint=n_vecs,
        ),
        # duplicate-cluster labeling over the LSH pair graph (iterative
        # large-star/small-star with per-round materialization)
        "op_connected_components": lambda: dedup.connected_components(
            dedup.minhash_lsh_dedup(
                docs(), "doc_id", "text", num_perm=16, bands=8, threshold=0.5
            ),
            docs().select("doc_id"),
        ),
        # the production wide-SimHash regime: star-collapse + capped
        # buckets (exact=False) — the tier a 100 TB corpus actually runs
        "op_simhash_wide_approx": lambda: dedup.hamming_near_pairs_words(
            dedup.simhash_words(docs(), "doc_id", "text", bits=128),
            bits=128, bands=8, max_hamming=7,
            sig_col="simhash_words", exact=False,
        ),
        # ANN at scale: centroids trained ONCE on the x1 sample (untimed,
        # amortized), timed portion = full-corpus cell assignment + probe
        "op_ivf_assign_probe": lambda: similarity.ivf_topk(
            similarity.assign_ivf_cells(emb(), cents),
            cents,
            emb().filter(F.col("vec_id") < 5),
            k=5,
            n_probe=3,
        ),
        # SemDeDup scale route: int64 numpy matmul assignment + within-
        # cell prune (the default tier), decision-identical to y48's oracle-matched expression path
        # (parity pinned in tests/test_geometry_routes.py). Centroids
        # are trained PER SIZE with k ~ rows/2000 — the SemDeDup design
        # sizes cells to the corpus so the within-cell quadratic stage
        # stays bounded; reusing a fixed k across sizes (the round-5
        # first cut) made cell size grow linearly and the quadratic
        # stage alpha 1.77.
        "op_semdedup_matmul": lambda: curation.semdedup_prune(
            emb(), size_cents(), threshold_ppb=400_000_000,
        ),
        # hard-negative mining, IVF-probed scale route: per-size
        # centroids (k ~ rows/2000, the SemDeDup knob) keep cell size
        # bounded, so per-cell BLAS blocks are constant work and total
        # flops grow ~linearly; emitted scores stay exact-verified
        "op_hardneg_ivf": lambda: similarity.hard_negatives_ivf(
            emb(), size_cents(), k=3, n_probe=2,
        ),
        # SKEW stress (round-6 verdict item 7): the same wide-SimHash
        # and LSH production tiers over a Zipfian-clustered duplicate
        # corpus — head cluster ~7% of all docs byte-identical — to
        # prove the identical-signature collapse / star caps hold the
        # curve under skew, not just under uniform copies
        "op_simhash_wide_zipf": lambda: dedup.hamming_near_pairs_words(
            dedup.simhash_words(
                zipf_documents(docs(), n_docs), "doc_id", "text", bits=128
            ),
            bits=128, bands=8, max_hamming=7,
            sig_col="simhash_words", exact=False,
        ),
        "op_lsh_pairs_zipf": lambda: dedup.minhash_lsh_dedup(
            zipf_documents(docs(), n_docs), "doc_id", "text",
            num_perm=16, bands=8, threshold=0.5,
        ),
        # x04's corpus-realistic geometry: mirror groups sized so the
        # identical-image group stays ~100 docs at every corpus size
        # (real mirror sets don't grow with the crawl; the catalog
        # entry's fixed 50 groups are an oracle artifact — see EXCLUDED)
        "op_image_neardup_scaled": lambda: _image_neardup_scaled(
            docs(), n_docs
        ),
        # composed IVF-PQ (round-7 verdict item 2): per-size centroids +
        # codebooks (both amortized), timed portion = full-corpus cell
        # assignment + PQ encode + partition-restricted ADC probe — the
        # linear index-build stages plus the sublinear probe. Assignment
        # uses the matmul tier: the expression fold with k ~ n/2000
        # cells measured alpha(10,100) = 1.71 (the curve caught it, as
        # designed); BLAS assignment restored linearity.
        "op_ivfpq_adc_probe": lambda: similarity.ivfpq_topk(
            similarity.pq_encode(emb(), size_cb()).join(
                similarity.assign_ivf_cells_matmul(
                    emb(), size_cents()
                ).select("vec_id", "cell"),
                "vec_id",
            ),
            size_cents(),
            size_cb(),
            emb().filter(F.col("vec_id") < 5),
            k=5,
            n_probe=3,
        ),
        # batched BPE training (round-6 verdict item 3's x10 point):
        # 24 merges at batch_merges=8 — the driver-loop count drops
        # ~5x vs sequential while values stay token-identical (parity
        # pinned in tests/test_bpe_entropy.py)
        "op_bpe_train_batched": lambda: text.bpe_train(
            docs(), num_merges=24, batch_merges=8
        ),
        # unigram-LM APPLY (round 10): Viterbi DP over the distinct-word
        # table under a per-size pre-trained 48-piece vocab (uni_vocab,
        # amortized) + broadcast map-back + per-doc agg — the encode
        # shape y89 pins by oracle at gate scale
        "op_unigram_encode": lambda: text.unigram_encode(
            docs(), uni_vocab()
        ),
        # incremental CC (round 8): timed portion = fold a ~2% batch's
        # edges into committed labels (contract: per-ingest cost ∝
        # batch + touched components, NOT corpus). Pair generation and
        # the base CC are the amortized prep (first discarded run of
        # the min-of-2 protocol, the size_cents convention).
        "op_incremental_cc": lambda: dedup.incremental_connected_components(
            *inc_cc_parts()
        ),
        # blocked entity resolution at GROWING name cardinality (round
        # 9): the y84 catalog curve is flat by design (vocab-bounded
        # part names); this route grows distinct names ~n/3 with
        # selective last-token blocks (~constant size), so the full
        # distinct -> blocked-verify -> CC -> map-back pipeline scales
        # linearly in the corpus
        "op_entity_resolution_blocked": lambda: linkage.resolve_entities(
            _er_dirty_names(spark, n_docs), "mention", max_dist=2
        ),
        # prefix-filter exact join in its INTENDED regime (round 9):
        # the catalog y76 point runs on the testdata's 31-word
        # vocabulary, where every token is a stopword and prefixes
        # cannot prune (15.8 s at sf0.1 — an honest worst case). This
        # route generates a realistic LARGE vocabulary (md5 tokens,
        # Zipf-ish mix of one shared rare tail + per-doc noise) where
        # the rarest-first prefixes do the pruning the design promises;
        # near-dup pairs come from duplicated rare cores
        "op_prefix_filter_large_vocab": lambda: dedup.prefix_filter_jaccard_pairs(
            _pf_large_vocab_docs(spark, n_docs), "doc_id", "text",
            threshold=0.7,
        ),
        # profiler HLL tier (round 9): approx_count_distinct removes
        # the Expand input replica per distinct column — the 100 TB
        # profile tier; exact stays the oracle-checked catalog default
        "op_table_profile_hll": lambda: stats.profile_table(
            read_table(spark, d, "orders"),
            ["o_custkey", "o_orderpriority", "o_orderstatus", "o_totalprice"],
            exact_distinct=False,
        ),
        # bucketed co-located join (round 8): the layout write is the
        # one-time amortized shuffle (memoized per session — absorbed by
        # the first, discarded run of the min-of-2 protocol, the
        # size_cents convention); the timed portion is the recurring
        # fact-to-fact SMJ + per-order agg, which plans with ZERO
        # exchanges at every size, so the curve should track the scan
        # (alpha ~1 linear), not a shuffle
        "op_bucketed_join": lambda: (
            lambda lt, ot: bucketed.bucketed_join(
                spark, lt, ot, "l_orderkey", "o_orderkey"
            )
            .groupBy("l_orderkey")
            .agg(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
                ).cast("double").alias("revenue"),
                F.count(F.lit(1)).alias("n_items"),
            )
        )(
            bucketed.ensure_bucketed(
                spark, read_table(spark, d, "lineitem"), "lineitem", d,
                "l_orderkey",
            ),
            bucketed.ensure_bucketed(
                spark, read_table(spark, d, "orders"), "orders", d,
                "o_orderkey",
            ),
        ),
        # Count-Min over shingle occurrences (round-10 continuation):
        # the shuffle is the 4x4096 counter universe at every size, so
        # the curve should track the map-side explode+hash (alpha ~1);
        # probes are fixed literals — the estimate join is
        # broadcast-bounded and size-independent
        "op_cms_sketch_probe": lambda: sketches.cms_estimate(
            sketches.cms_sketch(
                sketches.shingle_occurrences(docs()), depth=4, width=4096
            ),
            spark.createDataFrame(
                [(f"probe{i}",) for i in range(24)], "item STRING"
            ),
            depth=4,
            width=4096,
        ),
        # KMV per-source distinct + set algebra (round-10
        # continuation): the per-partition k-min-distinct fold keeps
        # state at groups x k; the final merge aggregates candidate
        # rows, never the (source, shingle) universe — the curve
        # should track the hash+fold scan
        "op_kmv_distinct_sets": lambda: sketches.kmv_set_estimates(
            sketches.kmv_sketch(
                sketches.shingle_occurrences(
                    docs(), keep_cols=("source",)
                ),
                "source",
                k=256,
            ),
            k=256,
            pairs=[("src0", "src1"), ("src0", "src2"), ("src1", "src2")],
        ),
        # Unicode normalization (round-10 continuation): pure-JVM
        # regexp chain; every 7th doc gets the messy suffix so the
        # Arrow NFC branch processes its honest ~14% share while the
        # ASCII bulk bypasses Python entirely
        "op_normalize_text": lambda: text.normalize_text(
            docs().withColumn(
                "text",
                F.when(
                    F.col("doc_id") % 7 == 0,
                    F.concat(
                        F.col("text"),
                        F.lit("  café\t​zero one  "),
                    ),
                ).otherwise(F.col("text")),
            )
        ),
        # WordPiece APPLY (round-10 continuation): vocab trained once
        # per size (amortized by the first, discarded run — the
        # uni_vocab convention); the timed thunk measures the greedy
        # walk on the distinct-word table + broadcast map-back +
        # per-doc agg
        "op_wordpiece_encode": lambda: text.wordpiece_encode(
            docs(), wp_pieces()
        ),
        # degree-oriented triangle counting (round-10 continuation):
        # copies are key-inert, so edges/wedges/triangles all scale
        # linearly in k and the curve isolates the operator's join
        # throughput; the orientation bounds per-key wedge fan-out
        "op_triangle_count": lambda: graph.triangle_stats(
            graph.cooccurrence_edges(read_table(spark, d, "lineitem"))
        ),
    }


def scaling_curve(points: dict) -> dict:
    """``points`` with its exponents recomputed from its ``t<k>`` times:
    ``alpha_a_b`` between each pair of consecutive measured sizes, and
    ``flag`` when alpha_10_100 > 1.3 (see the module docstring). Other
    keys, such as a hand-written ``note``, are kept."""
    out = {
        k: v for k, v in points.items() if not k.startswith("alpha_") and k != "flag"
    }
    sizes = sorted(int(k[1:]) for k in out if k[0] == "t" and k[1:].isdigit())
    for a, b in zip(sizes, sizes[1:]):
        ta, tb = out[f"t{a}"], out[f"t{b}"]
        if ta and tb and ta > 0:
            out[f"alpha_{a}_{b}"] = round(math.log(tb / ta) / math.log(b / a), 3)
    out["flag"] = out.get("alpha_10_100", 0) > 1.3
    return out


def main() -> None:
    sizes = [1, 10, 100]
    out_path = "BENCH_scale.json"
    args = sys.argv[1:]
    only = None
    if "--sizes" in args:
        sizes = [int(s) for s in args[args.index("--sizes") + 1].split(",")]
    if "--out" in args:
        out_path = args[args.index("--out") + 1]
    if "--only" in args:
        only = set(args[args.index("--only") + 1].split(","))
    merge = "--merge" in args
    base = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR", os.path.join(ROOT, "scale_data")
    )
    prior = load_json(out_path)

    spark = get_spark(app_name="bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    cat = catmod.catalog()

    # one-time sample training for the ANN entry (the 100 TB posture:
    # k-means cost is per-row x k, so you fit on a sample and assign all)
    cents = similarity.train_ivf_centroids(
        read_table(spark, f"{base}/x1", "embeddings"), k=16
    )
    cents = spark.createDataFrame(
        cents.collect(), "centroid_id INT, embedding ARRAY<FLOAT>"
    )

    results: dict[str, dict] = {}
    meta: dict[str, dict] = {}
    for k in sizes:
        d = f"{base}/x{k}"
        # warm-up once per size; record the sizes of the scaled tables
        counts = warm_up(spark, d)
        meta[f"x{k}"] = {
            t: counts[t] for t in ("documents", "embeddings", "events", "lineitem")
        }
        n_docs, n_vecs = counts["documents"], counts["embeddings"]

        batt: dict[str, object] = {
            name: functools.partial(cat[name].build, spark, d)
            for name in CATALOG_QUERIES
        }
        batt.update(operator_queries(spark, d, n_docs, n_vecs, cents))

        for name, thunk in batt.items():
            if only is not None and name not in only:
                continue
            if k > MAX_SIZE.get(name, 10**9):
                continue
            t = round(min(time_noop(thunk) for _ in range(2)), 3)
            results.setdefault(name, {})[f"t{k}"] = t
            print(f"x{k:<4} {name:<28} {t:8.3f} s", flush=True)

    measured = list(results)
    if merge:
        # a --sizes-restricted re-measure keeps the other sizes' points
        old = prior.get("queries", {})
        results = {
            **old,
            **{name: {**old.get(name, {}), **r} for name, r in results.items()},
        }
        meta = {**prior.get("sizes", {}), **meta}
    for name in measured:
        results[name] = scaling_curve(results[name])

    payload = {
        "metric": "scaling_curves",
        "unit": "sec",
        "sizes": meta,
        "queries": results,
        "flagged": sorted(n for n, r in results.items() if r.get("flag")),
        "excluded": EXCLUDED,
    }
    for key, value in payload.items():
        update_json_section(out_path, key, value)
    print(json.dumps({k: v for k, v in payload.items() if k != "sizes"}))


if __name__ == "__main__":
    main()
