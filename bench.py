"""Headline benchmark: runs the engine's representative queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": total_sec, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Each query is forced end-to-end with a noop sink (full execution, no
driver-side collect cost). The set spans the operator classes: scan+agg,
multi-join, window, dedup (exact + MinHash-LSH), similarity top-k, text
featurization, sessionization.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fhir_etl_spark.queries import all_queries  # noqa: E402
from fhir_etl_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q13_customer_distribution",
    "w1_topk_per_group",
    "e3_sessionization",
    "r1_asof_join_backward",
    "t2_quality_score",
    "d1_exact_dedup",
    # the xxhash64 production MinHash pipeline — the SAME computation
    # BENCH_r01–r03 timed as "d4_minhash_lsh" (that name now runs the
    # ~2×-slower md5-twin hash so the correctness gate can value-oracle
    # it; the throughput series continues here)
    "d4x_minhash_lsh_xxh64",
    "v1_cosine_topk",
    "q9_profit_by_nation",
    "q21_waiting_suppliers",
    "ds4_shard_shuffle",
    # r02 additions: corpus cleaning (C4-style multi-op plan) and near-dup
    # clustering (iterative label propagation) — regressions in the
    # text-cleaning and connected-components paths must be visible here
    "t6_clean_corpus",
    "d6_dedup_clusters",
    # r03 additions: storage-layout curve math (map-only plan) and
    # cross-doc chunk dedup (explode + keeper join + reassembly)
    "y1_zorder_curve",
    "d9_chunk_dedup",
    # r04 additions: real-codec image decode (two Arrow python stages,
    # map-only), bigram-LM perplexity scoring (explode + 2 aggs +
    # co-partitioned joins), and ExactSubstr repeated-substring removal
    # (gram count + covered-span anti join + ordered reassembly)
    "m2_image_decode",
    "t12_lm_perplexity",
    "d10_substring_dedup",
    # r05 additions: the from-scratch baseline-JPEG codec tier (encode +
    # decode round-trip over the documents corpus, two Arrow python
    # stages, map-only) and the WARC ingestion loop (distributed
    # member-gzip export -> DataSource read-back, the corpus-ingestion
    # representative)
    "m6_jpeg_decode",
    "s12_warc_scan",
    # r06 additions: one-pass declarative quality constraints (7 checks,
    # single aggregation scan), URL canonicalization (pure-codegen
    # parse/eTLD+1/utm-strip projection), per-key trailing-window anomaly
    # scoring, and degree-oriented triangle counting over the mined
    # near-dup graph
    "dq1_quality_checks",
    "t16_url_canonicalize",
    "w8_rolling_zscore",
    "g3_triangle_count",
    # r07 additions: SemDeDup semantic dedup (k-means + within-cluster
    # ordered-scan cosine prune), xlsx source round trip (distributed
    # workbook export -> partition-per-file DataSource -> Catalyst
    # header pivot), Hilbert-curve clustering key (unrolled integer
    # rotate/reflect walk), and mergeable KMV quantile sketches
    "v8_semdedup",
    "s15_xlsx_scan",
    "y3_hilbert_curve",
    "x14_kmv_quantiles",
    # r08 additions: Gopher char-weighted repetition rules (positional
    # coverage union — two doc-local gram groupBys + one distinct),
    # int8-quantized ANN (global-absmax scalar quantization, integer
    # dot top-k — the memory-bandwidth tier of similarity search), and
    # the banded dedup index read (signatures + banding + per-bucket
    # min verdicts, no pair enumeration)
    "t17_gopher_char_repetition",
    "v9_int8_quantized_ann",
    "d12_lsh_bucket_keepers",
    # r08 continuation: per-key EWMA recurrence (sorted-array fold),
    # label-propagation communities (3 vote rounds over the mined graph),
    # DSIR importance scoring (token explode -> 256-bucket micro-log
    # weights -> broadcast-weighted doc sums), CCNet perplexity terciles
    # (t12 LM + histogram cuts), MMR diversified re-ranking (greedy
    # rounds over a bounded candidate pool), and the ORC round trip
    "w9_ewma",
    "g5_label_propagation",
    "ds10_dsir_importance",
    "t18_ccnet_buckets",
    "v10_mmr_rerank",
    "s16_orc_roundtrip",
    # r08 second continuation: product-quantization ANN (literal
    # codebooks, map-only encode, integer ADC LUT scan — the 64×
    # compression tier of similarity search), Holt level+trend smoothing
    # (the w9 fold with a 2-double state), and the Arrow IPC round trip
    # (binaryFile -> mapInArrow batch decode)
    "v11_pq_ann",
    "w10_holt_trend",
    "s17_arrow_ipc_roundtrip",
    # animated-GIF shot-boundary detection (codec tier + window delta)
    "m14_scene_change",
    # IVF-PQ: coarse lists + residual PQ + probed ADC (the v4+v11 composition)
    "v12_ivfpq_ann",
    # collocation lift mining (capped pair fan-out + key-shuffled df joins)
    "t19_collocation_lift",
    # training-mixture token allocation (one aggregate + literal arithmetic)
    "ds11_token_budget_mix",
    # versioned-table small-file compaction (8 fragmented commits -> rewrite)
    "y4_compaction",
    # cross-table FK audit (4 anti-join edges incl. one planted-broken)
    "dq3_referential_integrity",
    # Unicode script detection (pure-codegen regexp_count projection)
    "t20_script_detection",
    # per-key OLS trend (rank window + BIGINT-sum aggregate)
    "w11_ols_trend",
    # reset-aware sequence-pattern counting (sorted-array struct fold)
    "e9_sequence_pattern",
    # stupid-backoff LM scoring (two full-stream joins, the t12 family)
    "t21_stupid_backoff",
    # k-core peeling over the co-purchase graph (data-dependent rounds)
    "g6_k_core",
    # the composed curation pipeline (profile projection + digest dedup + verdict join)
    "c1_curation_pipeline",
    # EXIF extraction (APP1 discovery + TIFF IFD walk, both endians)
    "m15_exif_extract",
    # 1-bit binary ANN (sign words + bit_count(xor) Hamming top-k)
    "v13_binary_ann",
    # r09 additions: frozen-weights quality-classifier inference (map-only
    # codegen fold, the fastText curation filter) and BM25 ranked
    # retrieval (index build + broadcast query terms + WindowGroupLimit)
    "t22_quality_classifier",
    "t23_bm25_topk",
    # NFKC-class fold (map-only translate) and the suffix-array
    # ExactSubstr tier (log-round distributed rank build — the priced
    # cost of exactness-at-every-threshold; the k-gram twin d10 stays
    # the cheap single-threshold path)
    "t5b_nfkc_fold",
    "d13_suffix_array_dedup",
    # r10 additions: SemDeDup under the DEPLOYMENT sizing policy
    # (k ∝ n/200 + FAISS train-on-sample — the fix for v8's measured
    # 546 s at sf10-shape; v8 stays above as the priced fixed-k
    # reference)
    "v8b_semdedup_scaled_k",
    # HTML main-content extraction (map-only strip/split/count/keep —
    # the boilerplate-removal step between s12 WARC bodies and t6)
    "t24_html_extract",
    # ExactSubstr from the PERSISTED suffix array (query-only path:
    # depths filter + reassembly; the build runs once per corpus into
    # the fingerprint-keyed store — warmed below like the ANN models)
    "d13p_suffix_array_store",
    # multi-class classifier head (5 per-class literal folds + argmax)
    "t22b_multiclass_classifier",
    # the composed web-curation recipe (decorate -> extract -> quality
    # -> dedup as ONE plan; regressions anywhere in the chain surface)
    "c2_web_curation_pipeline",
    # C4-style blocklist gate (exact-token + phrase tiers, literal list)
    "t25_blocklist_gate",
    # cross-document line-level dedup (RefinedWeb boilerplate-line
    # removal: digest agg + digest anti join + doc reassembly)
    "t26_line_dedup",
    # BM25 from the PERSISTED postings index (store scan + broadcast
    # query terms; the build runs once per corpus — warmed like d13p)
    "t23p_bm25_store",
    # cluster-capped diversity sampling (kmeans assign + id-keyed
    # quality join + WindowGroupLimit cap)
    "ds12_cluster_cap_sample",
    # PDF text extraction (from-spec writer + extractor round trip,
    # two Arrow python stages, map-only — the codec-tier shape)
    "m16_pdf_text",
    # the composed LINE-curation recipe (decorate -> line dedup ->
    # quality over CLEANED text -> gate, one plan)
    "c3_line_curation_pipeline",
    # feature-hashing embeddings + cosine top-k (r12: ONE codegen
    # hash-agg of dim conditional sums — the exchange carries the
    # embedding table itself; TakeOrderedAndProject)
    "v14_hashed_embedding_topk",
    # the fuzzy-dedup canonicalization recipe (d3 pairs -> d6 CC ->
    # best-quality keeper per cluster + singleton union, one plan)
    "c4_fuzzy_dedup_pipeline",
    # additive parquet schema evolution (two file generations, explicit
    # evolved-schema read NULL-fills the old footers)
    "s18_schema_evolution",
    # sentence segmentation (map-only extract + posexplode grain change)
    "t27_sentence_split",
    # r11: the capstone curation recipe end to end (WARC export+scan ->
    # extract -> line dedup -> fuzzy dedup -> decontaminate -> gate ->
    # pack -> shard, one plan; the WARC staging is part of the cost)
    "c5_capstone_curation",
    # r11: persisted-BPE serve path (fingerprint scan + store read +
    # map-only encode; the training ran once, warmed below)
    "t13p_bpe_store",
    # r11 session 2: token-exact budget mix (t13p store encode feeding
    # the ds11 integer-DIV arithmetic on per-source BPE sums)
    "ds13_bpe_token_budget",
    # RRF hybrid retrieval (BM25 arm + hashed-embedding dense arm +
    # integer-nano fusion; corpus text never shuffles)
    "v16_rrf_hybrid",
    # the RAG retrieval recipe (chunk -> BM25 over chunks -> top-k ->
    # token-budgeted context assembly, one plan)
    "c6_rag_pipeline",
    # eval-side contamination report (broadcast-benchmark shingle join,
    # dual count-distinct over the matched set only)
    "d14_contamination_report",
    # count-min sketch (token stream -> 4096 counters, map-side
    # combine; the bounded-shuffle twin of d7's exact heavy hitters)
    "x16_count_min_sketch",
    # r12: prefix-filtered exact Jaccard (AllPairs lossless candidate
    # bound + exact verify — the cap-free exactness path; A/B-measured
    # slower than the posting miner at this density, priced honestly)
    "d3p_jaccard_prefix_filter",
    # r12: learned quality gate (t2-gate-trained head over hashed
    # grams + meta tokens, map-only codegen fold)
    "t22q_learned_quality_gate",
    # r12: the capstone with the learned gate as stage 6
    "c5b_capstone_learned_gate",
    # r12 session 2: content-defined chunk dedup (insertion-resyncing
    # boundaries, d9's keeper policy at CDC grain)
    "d15_cdc_chunk_dedup",
    # r12 session 2: binary-prefilter -> exact-cosine cascade (the
    # compact-scan deployment recipe; float corpus never shuffles)
    "v17_cascade_ann",
    # r12 session 2: KMV set-relation estimates between source slices
    # (sketch-table read, never a corpus join)
    "x17_kmv_corpus_overlap",
    # r12 session 2: length-bucketed batch assembly with padding-waste
    # pricing (per-(bucket, shard) windows, no global sort)
    "ds14_length_bucket_batches",
]


# Per-query wall-time floor (seconds) — the standing regression bar
# (VERDICT r03 item 6): any query above 1.5× its floor (+0.3 s absolute
# noise term) is flagged in the output's "regressions" field. Update
# when a round's numbers become the new accepted baseline. Floors below
# were TIGHTENED in round 8 from a genuinely quiet run (loadavg 0.25 at
# start, the new wait_for_quiet_host hygiene) — most queries set
# all-round bests, so the bar is now stricter than any prior round's.
R03_FLOOR = {
    "q1_pricing_summary": 0.386, "q3_shipping_priority": 0.757,
    "q5_local_supplier_volume": 1.038, "q13_customer_distribution": 0.506,
    "w1_topk_per_group": 0.391, "e3_sessionization": 0.476,
    "r1_asof_join_backward": 0.546, "t2_quality_score": 0.438,
    "d1_exact_dedup": 0.233, "d4x_minhash_lsh_xxh64": 1.561,
    "v1_cosine_topk": 0.507, "q9_profit_by_nation": 0.929,
    "q21_waiting_suppliers": 1.006, "ds4_shard_shuffle": 0.25,
    "t6_clean_corpus": 0.400, "d6_dedup_clusters": 3.387,
    "y1_zorder_curve": 0.650, "d9_chunk_dedup": 0.991,
    "m2_image_decode": 2.038, "t12_lm_perplexity": 2.719,
    "d10_substring_dedup": 2.318,
    "m6_jpeg_decode": 2.424, "s12_warc_scan": 0.89,
    "dq1_quality_checks": 0.61, "t16_url_canonicalize": 0.32,
    "w8_rolling_zscore": 0.58,
    # g3 floor re-set 2.163 -> 2.777 with the r10 session-wide
    # hugeMethodLimit=8000: one g3 stage sits in the 8-64 KB band where
    # Spark's interpreted fallback runs ~12% behind the (un-JIT-able)
    # generated code — priced in, like v9's unroll cost; the setting
    # buys 2x on v9/d13/semdedup (A/B in SCALE.md round-10 notes)
    "g3_triangle_count": 2.533,
    # v8's floor moved 3.83 -> 4.83 with the round-8 oversized-cluster
    # re-split: the cap probe (a bounded count over the checkpointed
    # clustering subtree) executes per build — the measured price of
    # never truncating the prune, on the same quiet run that set every
    # other floor
    "v8_semdedup": 3.16, "s15_xlsx_scan": 0.96,
    "y3_hilbert_curve": 1.081,
    "x14_kmv_quantiles": 1.703,
    # r08 first-appearance floors (quiet host, best-of-2)
    "t17_gopher_char_repetition": 1.293,
    # v9's floor re-set 0.43 -> 1.90 when the dot/quantize switched from
    # interpreted HOF lambdas to dim-unrolled codegen: the large unrolled
    # expression pays a FLAT driver-side optimize/compile cost (exactly
    # the hilbert_key profile) that dominates at sf0.1's 1500 vectors but
    # amortizes at scale — the 1M-vector smoke went 59.8s -> 20.8s from
    # the same change. Architecture priced into the floor, not hidden
    # under it.
    # tightened 1.90 -> 1.73 with the round-8 selectExpr conversion of
    # the quantize/dot construction (the py4j lesson; 1M smoke 18.7s
    # under loadavg 20, unchanged integers)
    "v9_int8_quantized_ann": 0.657,
    "d12_lsh_bucket_keepers": 4.734,
    # r08 second-continuation first-appearance floors, measured at
    # loadavg ~2-4 (the host never quieted below 2 during this window;
    # conservative by construction — a quiet run will undercut them).
    # v11's cost is FLAT driver work (2 bounded actions over a
    # 64-codeword literal plan + one Janino attempt on the fused update
    # stage), amortizing at scale: the 1M-vector smoke encodes at
    # ~64k vec/s.
    # v11/v12 floors re-set in r09 when codebook training moved behind
    # the persisted-model store (operators/ann_store): the Lloyd rounds
    # now run once per (corpus, recipe) and later invocations load
    # m*sub_k bounded rows and go straight to the map-only encode.
    # v11 5.375 -> 2.967, v12 6.704 -> 4.710 (bench-measured warm, sf0.1).
    "v11_pq_ann": 2.967,
    "w10_holt_trend": 0.543,
    "s17_arrow_ipc_roundtrip": 0.545,
    "m14_scene_change": 6.162,
    "v12_ivfpq_ann": 4.710,
    "t19_collocation_lift": 1.125,
    "ds11_token_budget_mix": 0.267,
    "y4_compaction": 1.776,
    "dq3_referential_integrity": 0.97,
    "t20_script_detection": 0.533,
    "w11_ols_trend": 0.331,
    "e9_sequence_pattern": 0.43,
    "t21_stupid_backoff": 2.461,
    "c1_curation_pipeline": 1.57,
    "m15_exif_extract": 0.428,
    "v13_binary_ann": 0.416,
    # g6's wall is ~12 peel rounds of tiny jobs — driver-latency
    # dominated, so it tracks host load more than data size
    "g6_k_core": 2.201,
    # r09 first-appearance floors
    "t22_quality_classifier": 1.072,
    "t23_bm25_topk": 1.1,
    "t5b_nfkc_fold": 0.195,
    # d13's wall is ~7 doubling rounds of rank jobs + the LCP walk —
    # driver-latency dominated at sf0.1 (like g6), tracks host load.
    # r10 trim (width-2 base skips the vocabulary-rank round; the
    # uniqueness probe folded into the rank builder's offset collect):
    # 19.885 -> 17.215 measured at loadavg ~2.3
    "d13_suffix_array_dedup": 13.965,
    # r10 first appearance, measured at loadavg ~2.4 after the round's
    # scale fixes (encoded HashAggregate argmin, pair-dot in projection,
    # hugeMethodLimit). At sf0.1's 1500 vectors the policy resolves to
    # k=8/train=320, so the wall over v8's floor is the dim=64
    # unrolled-distance chain's FLAT driver codegen cost (the v9 floor
    # lesson) + the bounded n count — both amortize at scale
    # (sf10-shape: 29.6 s vs v8's r09 546 s, BENCH_sf10_r10.json)
    "v8b_semdedup_scaled_k": 4.621,
    # map-only page scan (strip/split/count/keep, pure codegen)
    "t24_html_extract": 0.894,
    # the QUERY-ONLY suffix-array path: stored-depths filter +
    # reassembly — vs the 19.9 s build floor above, the measured value
    # of persisting the build (store warmed untimed, like v11/v12)
    "d13p_suffix_array_store": 0.902,
    # 5 frozen-literal folds over one gram array + argmax chain;
    # measured under loadavg ~13 (conservative — quiet runs undercut)
    "t22b_multiclass_classifier": 2.483,
    # extraction + scoring map-side, dedup groupBy + join-back; measured
    # under loadavg ~17 (conservative)
    "c2_web_curation_pipeline": 6.114,
    # map-only token-set intersect + contains chain
    "t25_blocklist_gate": 0.297,
    # three keyed exchanges (line-digest agg, digest anti join, doc
    # reassembly); session floors below re-tightened from the quiet
    # full-bench run (loadavg ~2) that closed the session
    "t26_line_dedup": 1.924,
    # the SERVE path of the persisted BM25 index (postings-scan join +
    # top-k window; store warmed untimed like v11/v12/d13p) — vs t23's
    # 1.25 s build-per-invocation floor
    "t23p_bm25_store": 0.756,
    # kmeans (2 Lloyd rounds, broadcast centroids) + scalar join +
    # WindowGroupLimit cap; measured under loadavg ~6.8 (conservative)
    "ds12_cluster_cap_sample": 1.281,
    # typeset + extract round trip (two Arrow python stages, map-only);
    # measured under loadavg ~3.6
    "m16_pdf_text": 2.422,
    # t26's three exchanges + map-only scoring/gate (quiet run)
    "c3_line_curation_pipeline": 1.903,
    # dim=64 fold construction: the wall at sf0.1 is mostly FLAT driver
    # plan-build of the 64-fold array (the v9/v11 codegen-cost lesson —
    # warm re-execution is ~0.3 s); amortizes at scale (200k-doc smoke:
    # 6.8k docs/s end to end). Measured under loadavg ~6.
    "v14_hashed_embedding_topk": 2.449,
    # pair mining + CC dominate (the d6 subtree) + winner window +
    # singleton anti join; measured at loadavg ~1-4
    "c4_fuzzy_dedup_pipeline": 3.563,
    # two parquet writes + the explicit-schema read-back
    "s18_schema_evolution": 0.602,
    # map-only decorate+extract+posexplode (the 5.0 s first cut was the
    # unmaterialized-tokens trap: element_at re-tokenized per element)
    "t27_sentence_split": 0.537,
    # v1's floor stays 0.507: the session's selectExpr dot-construction
    # fix brought it back under the bar (0.72 at loadavg ~2) after the
    # py4j-latency inflation the r08 continuation runs recorded.
    #
    # r11 first-appearance floors (quiet host, loadavg 0.2, best-of-2).
    # c5's floor is POST-FIX: the round's lineage barriers + the t2
    # gate cut it from 60.8 s (r11 session-1 shape, re-executing the
    # WARC->extract->line-dedup prefix once per consumer) to 11.9.
    "c5_capstone_curation": 9.752,
    "t13p_bpe_store": 2.134,
    "ds13_bpe_token_budget": 2.273,
    # v16's wall is dominated by the dense arm's one-time plan build
    # (the v14 64-fold lesson; warm re-execution is sub-second) on top
    # of the t23 index build
    "v16_rrf_hybrid": 4.124,
    "c6_rag_pipeline": 2.195,
    "d14_contamination_report": 1.018,
    "x16_count_min_sketch": 2.237,
    # r12 first-appearance floors (closing cold-cache run)
    "w9_ewma": 0.45,
    "g5_label_propagation": 3.532,
    "ds10_dsir_importance": 1.785,
    "t18_ccnet_buckets": 3.197,
    "v10_mmr_rerank": 1.817,
    "s16_orc_roundtrip": 0.326,
    "d3p_jaccard_prefix_filter": 6.002,
    "t22q_learned_quality_gate": 1.622,
    "c5b_capstone_learned_gate": 11.699,
}


def fhirize_throughput(spark, n_rows: int = 1_000_000, warm: bool = True) -> float:
    """Rows/sec through the full fhirize path: synthetic sample_info →
    nested Patient struct (P1) + uuid5 mint (F1) + prune (N1) + to_json (S8)
    → noop sink. The reference's pandas iterrows path is the floor this
    measures against (BASELINE.md self-measured baseline).

    ``warm`` runs the same plan once untimed at 1/20 scale first: the
    fhirize expression tree is large (the N1 prune compiler emits each
    nested field's pruned form twice — once in the rebuilt struct, once
    in the any-field-set test), so the FIRST execution pays a codegen +
    JIT compile cost worth ~40% of a 1M-row run. That one-time cost is
    irrelevant at production scale and r03 showed it dominating
    run-to-run noise (90.6k vs 118k r01); steady-state throughput is the
    comparable number."""
    import time

    from pyspark.sql import functions as F

    from fhir_etl_spark.operators.fhirize import fhirize_patient_1kg
    from fhir_etl_spark.sinks.ndjson import serialize

    if warm:
        fhirize_throughput(spark, n_rows=max(n_rows // 20, 1), warm=False)

    synthetic = spark.range(n_rows).select(
        F.concat(F.lit("HG"), F.col("id").cast("string")).alias("Sample"),
        F.when(F.col("id") % 3 == 0, "male")
        .when(F.col("id") % 3 == 1, "female")
        .alias("Gender"),
        F.concat(F.lit("Population "), (F.col("id") % 26).cast("string")).alias(
            "Population Description"
        ),
        F.lit("GBR").alias("Population"),
        F.when(F.col("id") % 5 == 0, "LCL").alias("DNA Source from Coriell"),
        F.when(F.col("id") % 2 == 0, "ILLUMINA").alias("Main project LC platform"),
    )
    start = time.perf_counter()
    serialize(fhirize_patient_1kg(synthetic)).write.format("noop").mode(
        "overwrite"
    ).save()
    return round(n_rows / (time.perf_counter() - start), 0)


def wait_for_quiet_host(
    threshold: float = 2.0, max_wait_sec: float = 180.0, poll_sec: float = 15.0
) -> tuple[list[float], list[float]]:
    """Bounded wait for pre-existing host contention to drain (VERDICT
    r07 #4: the r07 headline run was taken under ambient neighbor load,
    inflating UNTOUCHED queries 1.1-1.4× and making floors ambiguous).

    Samples the 1-min loadavg BEFORE our own executors start — at print
    time we'd mostly measure our own 32 threads — and, while it exceeds
    ``threshold``, sleeps up to ``max_wait_sec`` total. Returns
    (loadavg_at_entry, loadavg_at_start) so the JSON records both the
    contention found and the contention the timings actually ran under.
    Bounded: a permanently-busy host proceeds after max_wait_sec rather
    than wedging the driver's per-round bench."""
    entry = [round(x, 2) for x in os.getloadavg()]
    waited = 0.0
    while os.getloadavg()[0] > threshold and waited < max_wait_sec:
        time.sleep(poll_sec)
        waited += poll_sec
    return entry, [round(x, 2) for x in os.getloadavg()]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    loadavg_entry, loadavg_start = wait_for_quiet_host()
    spark = get_spark("fhir_etl_spark_bench")
    registry = all_queries()

    # Warm the JVM/codegen once on the cheapest query so per-query timings
    # measure the plan, not first-run initialization.
    registry["q1_pricing_summary"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    # ADVICE r09: the v11/v12 floors are WARM persisted-model timings
    # (ann_store cache hit). A cold cache — fresh clone, changed corpus
    # mtime, cleared spark-warehouse — legitimately retrains on the
    # first execution and would land above the bar as a phantom
    # regression. One untimed execution per model-backed query makes
    # the cache state deterministic: both timed samples below are warm.
    for _warm in (
        "v11_pq_ann",
        "v12_ivfpq_ann",
        "d13p_suffix_array_store",
        "t23p_bm25_store",
        "t13p_bpe_store",
    ):
        registry[_warm].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # Best-of-2 per query: the host VM's load swings run-to-run timings by
    # ±40% (measured), so a single sample can't tell a plan regression from
    # transient contention. The min of two full executions is the standard
    # least-noise estimator; both runs include plan construction + execution
    # (some plans, e.g. minhash's localCheckpoint, legitimately do work at
    # construction time).
    timings: dict[str, float] = {}
    for name in HEADLINE:
        samples = []
        for _ in range(2):
            # r12: persist()-backed barriers (v14 emb, c5's tables)
            # survive across samples via cache-plan matching — clear so
            # every sample is a cold, self-contained execution (warm
            # STORES above are on-disk state and stay warm by design)
            spark.catalog.clearCache()
            start = time.perf_counter()
            df = registry[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - start)
        # Adaptive third sample: r04's t6 "regression" (0.633 vs 0.490
        # floor) turned out to be first-executions-still-JIT-compiling
        # noise — isolated reruns converge to 0.48. When best-of-2 sits
        # >1.2x above the floor, buy one more full execution before
        # declaring a regression; min over full executions stays the
        # estimator.
        if name in R03_FLOOR and min(samples) > 1.2 * R03_FLOOR[name]:
            spark.catalog.clearCache()
            start = time.perf_counter()
            registry[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            samples.append(time.perf_counter() - start)
        timings[name] = round(min(samples), 3)

    # Regression bar: 1.5x the floor PLUS a 0.3 s absolute noise term.
    # The relative bar alone made sub-second floors flap on this
    # noisy-neighbor VM (r07: w8 0.58->0.90 and dq1 0.61->0.95 flagged on
    # alternate runs of UNCHANGED code — JVM/host variance is a roughly
    # constant few-hundred-ms, which is 50% of a 0.6 s query but 2% of a
    # 15 s one). The absolute term absorbs exactly that; multi-second
    # queries are still governed by the 1.5x ratio.
    regressions = {
        name: {"sec": t, "floor": R03_FLOOR[name], "ratio": round(t / R03_FLOOR[name], 2)}
        for name, t in timings.items()
        if name in R03_FLOOR and t > 1.5 * R03_FLOOR[name] + 0.3
    }
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_time",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                # 1/5/15-min host load at bench entry and after the
                # bounded quiet-wait (i.e. what the timings ran under):
                # this VM has noisy neighbors, and wall numbers without
                # load context mislead (VERDICT r07 perf section)
                "loadavg_entry": loadavg_entry,
                "loadavg_start": loadavg_start,
                "fhirize_rows_per_sec": max(
                    fhirize_throughput(spark) for _ in range(2)
                ),
                "regressions": regressions,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
