"""Plan-hygiene regression tests: the physical plans the engine promises
(SURVEY.md §4.2). If a refactor breaks predicate pushdown, column pruning,
or broadcast-dim joins, these fail — correctness tests would not notice,
but a 1000-executor cluster reading 100 TB would.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from fhir_etl_spark.queries import all_queries

SF = "/root/testdata/sf0.001"


def formatted_plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_q1_pushdown_and_pruning(spark):
    plan = formatted_plan(spark, all_queries()["q1_pricing_summary"].fn(spark, SF))
    # the shipdate filter must reach the parquet scan
    assert re.search(r"PushedFilters:.*LessThanOrEqual\(l_shipdate", plan), plan
    # column pruning: the scan must NOT read l_partkey/l_suppkey/l_linenumber
    read_schema = re.search(r"ReadSchema: (\S+)", plan).group(1)
    assert "l_partkey" not in read_schema and "l_linenumber" not in read_schema
    # partial (map-side) + final aggregation around exactly one shuffle
    assert plan.count("HashAggregate") >= 2


def test_q3_broadcasts_dimension(spark):
    plan = formatted_plan(spark, all_queries()["q3_shipping_priority"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    # the BUILDING segment filter is pushed into the customer scan
    assert re.search(r"PushedFilters:.*EqualTo\(c_mktsegment,BUILDING\)", plan), plan


def test_q5_minimal_shuffles(spark):
    """All five dimension joins broadcast: the only Exchange nodes allowed
    are BroadcastExchanges plus the single final-agg hash Exchange."""
    plan = formatted_plan(spark, all_queries()["q5_local_supplier_volume"].fn(spark, SF))
    shuffle_exchanges = re.findall(r"[+:]- Exchange ", plan)
    assert len(shuffle_exchanges) <= 1, plan
    # all five joins broadcast (tree section lists each node once)
    tree = plan.split("(1) Scan")[0]
    assert tree.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in plan


def test_semi_join_stays_semi(spark):
    plan = formatted_plan(spark, all_queries()["j1_semi_join"].fn(spark, SF))
    assert "LeftSemi" in plan


def test_topk_is_take_ordered(spark):
    """orderBy+limit must plan as TakeOrderedAndProject (k rows per
    partition, merged on the driver) — never a global sort."""
    plan = formatted_plan(spark, all_queries()["o1_topk_global"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_fhirize_is_pure_projection(spark):
    """The fhirize operator must be scan→project with NO shuffle, NO UDF:
    whole-stage-codegen compiles it to one generated function."""
    from fhir_etl_spark.operators.fhirize import fhirize_patient_1kg

    df = spark.createDataFrame(
        [("HG1", "male", "d", "GBR", None, None)],
        "Sample string, Gender string, `Population Description` string, "
        "Population string, `DNA Source from Coriell` string, "
        "`Main project LC platform` string",
    )
    plan = formatted_plan(spark, fhirize_patient_1kg(df))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_text_features_no_python(spark):
    """Text analysis stays JVM-side (no Python eval nodes in the plan)."""
    from fhir_etl_spark.operators.text import (
        bpe_ish_token_count,
        fingerprint,
        lang_id,
        quality_score,
        token_count,
    )
    from fhir_etl_spark.session import load_tables

    docs = load_tables(spark, SF, "documents")
    text = F.col("text")
    features = docs.withColumns({
        "n_tokens": token_count(text),
        "n_bpe_tokens": bpe_ish_token_count(text),
        "quality": quality_score(text),
        "lang_pred": lang_id(text),
        "fingerprint": fingerprint(text),
    })
    plan = formatted_plan(spark, features)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # pure projection


def test_q6_pure_pushdown_scan(spark):
    """Q6 is scan→filter→1-row agg: every predicate reaches the parquet
    scan and the only Exchange is the final single-partition reduce."""
    plan = formatted_plan(spark, all_queries()["q6_revenue_forecast"].fn(spark, SF))
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed and "l_discount" in pushed
    shuffle_exchanges = re.findall(r"[+:]- Exchange ", plan)
    assert len(shuffle_exchanges) <= 1, plan
    assert "SortMergeJoin" not in plan


def test_q9_dims_broadcast(spark):
    """Q9's three dimension joins (part/supplier/nation) broadcast; only
    orders joins by shuffle — lineitem is never sort-merge-joined against a
    dimension."""
    plan = formatted_plan(spark, all_queries()["q9_profit_by_nation"].fn(spark, SF))
    tree = plan.split("(1) Scan")[0]
    assert tree.count("BroadcastHashJoin") >= 3, tree


def test_q19_common_filters_pushed_below_join(spark):
    """The disjunction's common factors are extracted and pushed to both
    scans (partial pushdown of OR-of-ANDs)."""
    plan = formatted_plan(spark, all_queries()["q19_disjunctive_filter"].fn(spark, SF))
    # part side: brand IN (...) ∪ size bounds reach the part scan
    assert "p_brand" in plan.split("PushedFilters:")[-1].split("\n")[0] or \
        plan.count("PushedFilters") >= 2
    assert "BroadcastHashJoin" in plan


def test_ann_plans_have_no_unpartitioned_window(spark):
    """Every Window in the ANN query plans must carry a partition spec —
    an un-partitioned Window funnels the whole corpus through ONE partition
    (the round-1 ivf_topk centroid-pick bug). In formatted explain a Window
    node's second argument list is the partition spec; empty shows as
    `, [], [`."""
    for name in ("v2_lsh_topk", "v4_ivf_topk", "v1_cosine_topk"):
        plan = formatted_plan(spark, all_queries()[name].fn(spark, SF))
        for m in re.finditer(r"\(\d+\) Window\n(?:.*\n)*?Arguments: (.*)", plan):
            assert ", [], [" not in m.group(1), f"{name}: un-partitioned Window\n{plan}"


def test_lsh_bucketed_neardup_join_is_equi_not_nested_loop(spark):
    """The scale contract of lsh_bucketed_neardup: candidate pairs form
    ONLY inside (band, sig)-equal buckets — the join must plan as an
    equi-join (hash or sort-merge on the signature), never the
    all-pairs nested loop that embedding_neardup_pairs (the in-bucket
    verifier) legitimately uses."""
    from fhir_etl_spark.operators.similarity import (
        embedding_neardup_pairs,
        lsh_bucketed_neardup,
    )
    from fhir_etl_spark.session import load_tables

    emb = load_tables(spark, SF, "embeddings")
    plan = formatted_plan(
        spark, lsh_bucketed_neardup(emb, threshold=0.4, n_planes=6, n_bands=4, dim=64)
    )
    assert "NestedLoop" not in plan, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan
    # ...whereas the raw brute-force tier IS the theta join (documented)
    brute_plan = formatted_plan(spark, embedding_neardup_pairs(emb, threshold=0.4))
    assert "BroadcastNestedLoopJoin" in brute_plan


def test_no_broadcast_hints_on_scaling_tables():
    """`F.broadcast()` is only allowed on inputs whose size is BOUNDED
    regardless of SF: fixed-cardinality dims (nation/region), 1-row scalar
    aggregates, probe sets, and benchmark shingle sets. customer/supplier/
    part/orders/lineitem (and anything derived from them) grow linearly
    with SF — a hardcoded broadcast hint on them OOMs at 100× scale; AQE
    converts those joins at runtime when the filtered side actually fits.
    """
    import ast
    import pathlib

    ALLOWED_BASES = {
        # fixed-cardinality dims (nation=25, region=5) and their projections
        "nation", "region", "n1", "n2", "cust_nation", "supp_nation", "america",
        # 1-row scalar-aggregate probes (incl. layout.py's min/max stats
        # row and t12's vocab-size row)
        "max_rev", "max_price", "avg_bal", "threshold", "stats", "v",
        # v6_knn_classify: one winner row per probe vector (≤ n_queries)
        "winner",
        # bloom_contamination_hits: ONE row holding the dense bitset —
        # ≤ n_bits/8 bytes (512 KiB default) regardless of SF
        "bloom",
        # kmeans_assign: k centroid rows (k × dim doubles)
        "cent",
        # lsh_bucketed_neardup degenerate-bucket guard: (band, sig) keys
        # whose occupancy exceeds max_bucket_size — at most
        # n_signatures/cap rows of two ints (≤ ~1e6 at 1e9 vectors with
        # the default cap), broadcast for the map-side anti join
        "oversized",
        # bounded probe/ID sets (query vectors, benchmark shingles,
        # membership ID lists — KBs-to-MBs by construction, documented at
        # each call site)
        "q", "probed", "sig_queries", "bench_sh", "flagged", "specimen_ids",
        # gtex_group_members: distinct single-column aliquot-key set —
        # bounded by the annotation table's sample count (~tens of
        # thousands of short strings in the reference's domain)
        "normalized",
        # int8_topk: the quantized QUERY probe set (same bounded role as
        # sig_queries/q in the other ANN tiers — a handful of vectors)
        "qq",
        # bm25_topk: the idf-enriched QUERY TERM set — rows = Σ distinct
        # terms over the (small by definition) query batch, never
        # corpus-sized; broadcasting it is the point (the postings scan
        # must not shuffle per query)
        "qidf",
        # semdedup_keep re-split: one cluster_id row per over-cap
        # first-level cluster — ≤ k rows of one int regardless of SF
        "over_clusters",
        # pq_adc_topk: the PQ codebook (m × sub_k rows, 64 at the v11
        # defaults) and the per-query ADC lookup tables (one array row
        # per probe vector) — both bounded by construction, never by SF
        "codebook", "lut",
        # dsir_bucket_weights / dsir_importance: `totals` is the 1-row
        # (tt, rt) token-total aggregate; `weights` is the n_buckets-row
        # (256 default) hashed-ngram weight table — both fixed-size
        "totals", "weights",
        # quantile_buckets (t18): `tot` is the 1-row corpus count,
        # `cuts` the 1-row aggregate holding the k-1 cut scores
        "tot", "cuts",
        # referential_integrity (dq3): the per-edge orphan AGGREGATE —
        # broadcast arg is orphans.agg(...), a 1-row frame
        "orphans",
        # binary_hamming_topk (v13): the sign-sketched QUERY probe set
        # (same bounded role as qq/sig_queries in the other ANN tiers)
        "queries_b",
        # token_budget_mix / collocation_lift: `n_docs` is the 1-row
        # distinct-doc count
        "n_docs",
    }
    # Generic variable names stay SCOPED to the one call site whose bound
    # is documented — a future F.broadcast(ranked) on a scaling table in
    # some other module must NOT ride this allowlist (ADVICE r11).
    SCOPED_ALLOWED = {
        # c6_rag_pipeline: the rank-trimmed retrieval shortlist is
        # |queries|·pool rows BY CONTRACT (the chunk corpus scales; the
        # per-query top-k does not)
        ("queries/capstone.py", "ranked"),
        # cms_point_query: the count-min counter table is ≤ depth·width
        # rows (4096 at defaults) regardless of stream size — that
        # bound IS the sketch's definition
        ("operators/sketch.py", "counters"),
        # cascade_hamming_cosine (v17): the Hamming-stage shortlist is
        # |queries|·candidates id pairs BY CONTRACT (the corpus scales;
        # the per-query candidate cut does not) — broadcasting it into
        # the rerank fetch is the point (the float corpus must not
        # shuffle for a few thousand lookups)
        ("operators/similarity.py", "cands"),
    }
    root = pathlib.Path(__file__).resolve().parent.parent / "fhir_etl_spark"
    violations = []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        if "broadcast(" not in src:
            continue
        tree = ast.parse(src)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = (
                fn.attr if isinstance(fn, ast.Attribute)
                else fn.id if isinstance(fn, ast.Name) else None
            )
            if name != "broadcast" or not node.args:
                continue
            arg = node.args[0]
            base = arg
            while isinstance(base, (ast.Attribute, ast.Call, ast.Subscript)):
                base = (
                    base.value if not isinstance(base, ast.Call) else base.func
                )
            base_name = base.id if isinstance(base, ast.Name) else None
            rel = path.relative_to(root).as_posix()
            if (
                base_name not in ALLOWED_BASES
                and (rel, base_name) not in SCOPED_ALLOWED
            ):
                violations.append(
                    f"{path.relative_to(root.parent)}:{node.lineno}: "
                    f"broadcast({ast.get_source_segment(src, arg)})"
                )
    assert not violations, (
        "broadcast() hint on un-allowlisted (possibly SF-scaling) input:\n"
        + "\n".join(violations)
    )


def test_ds_split_sample_no_python_udf(spark):
    """Dataset split/sample assignments are pure JVM expressions (md5/conv
    codegen) — no BatchEvalPython / ArrowEvalPython in the plan."""
    from fhir_etl_spark.operators.datasets import split_assign, stratified_sample
    from fhir_etl_spark.session import load_tables

    docs = load_tables(spark, SF, "documents")
    plan = formatted_plan(
        spark, split_assign(docs, "doc_id", {"train": 0.9, "test": 0.1})
    )
    assert "Python" not in plan
    events = load_tables(spark, SF, "events")
    plan2 = formatted_plan(
        spark, stratified_sample(events, "event_type", "event_id", {"click": 0.5})
    )
    assert "Python" not in plan2


def test_shingle_plan_splits_text_exactly_once(spark):
    """Regression: for an inner explode, InferFiltersFromGenerate pushes a
    size(arr) > 0 predicate below the projections and filter pushdown
    inlines the ENTIRE shingling expression (regex split re-evaluated per
    transform-lambda invocation) into it — measured 7x slower at sf0.1.
    doc_shingles uses explode_outer + isNotNull precisely so the optimized
    plan tokenizes each document exactly once."""
    from fhir_etl_spark.operators.dedup import doc_shingles
    from fhir_etl_spark.session import load_tables

    docs = load_tables(spark, SF, "documents")
    plan = doc_shingles(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan


def test_ngram_pairs_no_size_joins(spark):
    """ngram_jaccard_pairs carries |A|+|B| inside the pair structs — the
    plan must contain NO join (the join formulation shuffles the candidate
    -pair table, the largest intermediate, twice more)."""
    from fhir_etl_spark.operators.dedup import ngram_jaccard_pairs
    from fhir_etl_spark.session import load_tables

    docs = load_tables(spark, SF, "documents")
    plan = formatted_plan(spark, ngram_jaccard_pairs(docs))
    assert "Join" not in plan, plan


def test_quota_cap_plan_has_window_group_limit(spark):
    """quota_cap's rank<=N filter must compile to WindowGroupLimit so map
    tasks pre-prune to their local top-N per key BEFORE the exchange —
    the property that bounds shuffle volume on a hot domain."""
    from fhir_etl_spark.operators.datasets import quota_cap
    from fhir_etl_spark.session import load_tables

    docs = load_tables(spark, SF, "documents")
    plan = formatted_plan(
        spark, quota_cap(docs, "source", per_key=15, order_key="doc_id")
    )
    assert "WindowGroupLimit" in plan, plan


def test_scd2_merge_joins_once(spark):
    """scd2_merge emits all three dispositions (close/untouched/new) from
    ONE pass over the full-outer join — the three-branch filter+union
    formulation executes the operator's only shuffle three times."""
    from fhir_etl_spark.operators.scd import scd2_init, scd2_merge
    from fhir_etl_spark.session import load_tables
    from pyspark.sql import functions as F

    customer = load_tables(spark, SF, "customer")
    snap = customer.select(
        F.col("c_custkey").alias("key"),
        F.col("c_acctbal").alias("bal"),
        F.lit("2021-01-01").cast("timestamp").alias("ts"),
    )
    history = scd2_init(snap, "key", "ts").drop("ts")
    changes = snap.withColumn("bal", F.col("bal") + 1)
    merged = scd2_merge(history, changes, "key", "ts", ["bal"])
    plan = merged._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") == 1, plan


def test_distinctive_terms_plan(spark):
    """t8's per-doc top-k must compile to WindowGroupLimit (map-side
    pre-prune), stay Python-free, and must NOT hardcode a broadcast of the
    document-frequency side — Catalyst may broadcast it at small scale,
    but the logical plan carries no hint (vocabulary is unbounded)."""
    from fhir_etl_spark.operators.text import distinctive_terms
    from fhir_etl_spark.session import load_tables

    docs = load_tables(spark, SF, "documents")
    df = distinctive_terms(docs, k=3)
    plan = formatted_plan(spark, df)
    assert "WindowGroupLimit" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical and "UnresolvedHint" not in logical


def test_zorder_key_no_python_no_extra_shuffle(spark):
    """The z-value is pure codegen arithmetic over a broadcast stats row:
    no Python eval, no shuffle exchange beyond the broadcast itself."""
    from fhir_etl_spark.operators.layout import zorder_key
    from fhir_etl_spark.session import load_tables

    li = load_tables(spark, SF, "lineitem").select("l_partkey", "l_suppkey")
    plan = formatted_plan(spark, zorder_key(li, ["l_partkey", "l_suppkey"]))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastExchange" in plan  # the 1-row min/max stats
    assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan


def test_chunk_dedup_shuffles_chunks_not_docs_twice(spark):
    """chunk_dedup (r12 shape): explode → hash-keyed keeper groupBy →
    metadata join → drop-list fold → doc-grain rebuild. No Python; no
    exchange carries chunk text (the explode projects down to
    (doc, pos, xxhash64 pair) before the first shuffle)."""
    from fhir_etl_spark.operators.dedup import chunk_dedup
    from fhir_etl_spark.session import load_tables

    docs = load_tables(spark, SF, "documents")
    plan = formatted_plan(spark, chunk_dedup(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Generate posexplode") <= 2  # one per join branch
    # the keeper election and join are keyed on the 128-bit hash pair,
    # never the chunk string
    assert "xxhash64" in plan


def test_round4_operator_plan_shapes(spark, sf_dir):
    """Plan pins for the round-4 operators:

    - v7 kmeans: centroid scoring is a BroadcastNestedLoopJoin against the
      broadcast k-row centroid table (one per iteration) — the intended
      cross-scoring shape, never a CartesianProduct of two big sides;
    - d10 ExactSubstr: the removal tail is the r12 metadata rebuild —
      spans fold to one array row per doc and the token stream is
      rebuilt MAP-SIDE by gap slices, so the old (doc, position)
      LeftAnti join must NOT reappear (it shuffled the exploded token
      stream twice); no nested-loop/cartesian anywhere;
    - m2 codec path: map-only — ZERO exchanges, all Python work in
      Arrow-batched MapInPandas stages.
    """
    from fhir_etl_spark.queries import all_queries

    qs = all_queries()

    v7 = qs["v7_kmeans_assign"].fn(spark, sf_dir)
    p = v7._jdf.queryExecution().executedPlan().toString()
    assert p.count("BroadcastNestedLoopJoin") == 2  # one per iteration
    assert "CartesianProduct" not in p

    d10 = qs["d10_substring_dedup"].fn(spark, sf_dir)
    p = d10._jdf.queryExecution().executedPlan().toString()
    # the r12 gap-slice rebuild: doc-grain LeftOuter span join + map-side
    # slice fold; the exploded-position LeftAnti (two extra corpus-token
    # exchanges) must stay gone
    assert "LeftAnti" not in p
    assert "LeftOuter" in p and "slice(" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p

    m2 = qs["m2_image_decode"].fn(spark, sf_dir)
    p = m2._jdf.queryExecution().executedPlan().toString()
    # r13 _widen: exactly ONE round-robin exchange (doc_id longs only)
    # widens the codec tier to full parallelism; any OTHER shuffle —
    # media bytes, hash partitioning, a join — must not appear
    assert p.count("Exchange") == p.lower().count("roundrobinpartitioning"), p
    assert "hashpartitioning" not in p.lower(), p
    assert p.count("MapInPandas") == 3  # build → decode → stats


def test_round6_operator_plan_shapes(spark, sf_dir):
    """Plan pins for the round-6 operators:

    - d11 bloom decontamination: the bitset attaches via ONE
      BroadcastNestedLoopJoin of a 1-row table (the intended shape —
      a broadcast scalar, not a cartesian of two big sides), and the
      verify join is a hash/merge equi join;
    - dq1 constraint suite: one aggregation pass — a single pair of
      partial/final HashAggregates around one Exchange (plus the
      count-distinct expand), never one scan per check;
    - t16 URL canonicalization: map-only codegen — ZERO exchanges, no
      Python, no joins;
    - w8 rolling z-score: exactly one shuffle (the user_id window
      partition), no joins.
    """
    from fhir_etl_spark.queries import all_queries

    qs = all_queries()

    d11 = qs["d11_bloom_decontaminate"].fn(spark, sf_dir)
    p = d11._jdf.queryExecution().executedPlan().toString()
    assert p.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p

    dq1 = qs["dq1_quality_checks"].fn(spark, sf_dir)
    p = dq1._jdf.queryExecution().executedPlan().toString()
    assert p.count("Scan parquet") == 1, p  # 7 checks, ONE scan
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p

    t16 = qs["t16_url_canonicalize"].fn(spark, sf_dir)
    p = t16._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p, p
    assert "Join" not in p and "BatchEvalPython" not in p

    w8 = qs["w8_rolling_zscore"].fn(spark, sf_dir)
    p = w8._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p


def test_lateral_join_decorrelated(spark, sf_dir):
    """x13's correlated LATERAL subquery must decorrelate into a
    WindowGroupLimit top-k + one join — never a per-row nested-loop
    subquery re-execution."""
    from fhir_etl_spark.queries import all_queries

    df = all_queries()["x13_lateral_join"].fn(spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_aqe_splits_planted_skew_join_without_salting(spark):
    """VERDICT r06 #6: the 100x skew story must not rest on salted_join
    alone — an UNSALTED shuffle join with one hot key must trigger AQE's
    OptimizeSkewedJoin (the final adaptive plan marks the join skew=true),
    proving the runtime re-plan path works at realistic thresholds."""
    from pyspark.sql import functions as F

    tuned = {
        # scaled-down skew thresholds so a ~10 MB hot partition counts as
        # skewed next to byte-sized siblings (prod defaults are 256 MB/5x)
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "128KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        # 120k rows pile onto key 0; the rest spread across 2k keys
        left = spark.range(150_000).select(
            F.when(F.col("id") < 120_000, F.lit(0))
            .otherwise(F.col("id") % 2000)
            .alias("k"),
            F.concat(F.lit("x" * 96), F.col("id")).alias("payload"),
        )
        right = spark.range(2000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("weight")
        )
        # global agg on top, NOT groupBy("k"): a parent that requires hash
        # distribution on the join key forbids the skew split (it would
        # duplicate partitions) unless forceOptimizeSkewedJoin; sum over
        # payload also keeps the wide column flowing through the shuffle
        # so the hot partition is genuinely heavy, not pruned to one long
        joined = left.join(right, "k").agg(
            F.count("*").alias("n"), F.sum(F.length("payload")).alias("bytes")
        )
        # materialize THIS DataFrame (df.count() would spawn a separate
        # QueryExecution and leave this one's adaptive plan non-final)
        [row] = joined.collect()
        assert row["n"] == 150_000  # every left row matches exactly one right
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_join_injection(spark, tmp_path):
    """The third runtime re-plan lever for 100x joins (alongside AQE
    broadcast conversion and skew-split): a selective filter on the small
    side of a shuffle join must inject a runtime bloom filter into the
    fact scan (might_contain(...) over a bloom_filter_agg subquery), so
    the big side drops non-matching rows BEFORE the shuffle. Thresholds
    scaled down (prod default only fires past a 10 GB application side)."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "1MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        spark.range(500_000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v")
        ).write.mode("overwrite").parquet(f"{tmp_path}/fact")
        spark.range(50_000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("w")
        ).write.mode("overwrite").parquet(f"{tmp_path}/dim")
        fact = spark.read.parquet(f"{tmp_path}/fact")
        dim = spark.read.parquet(f"{tmp_path}/dim").filter("w = 3")
        joined = fact.join(dim, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
        # correctness: bloom pre-filtering has no false negatives — the
        # join result is exactly the dim keys with w == 3
        n = joined.count()
        expected = sum(1 for k in range(50_000) if k % 7 == 3)
        assert n == expected, (n, expected)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_kmv_sketch_trims_before_first_exchange(spark):
    """The wire-volume contract of the two-phase KMV build (round-7
    review): a PARTIAL WindowGroupLimit must sit BELOW the first
    exchange, so each map task ships only its k smallest hashed
    identities per (group, partition) — not the partition's full
    distinct set (a post-agg slice evaluates after the exchange and
    bounds nothing)."""
    from fhir_etl_spark.operators.sketch import kmv_sample_sketch
    from fhir_etl_spark.session import load_tables

    li = load_tables(spark, SF, "lineitem")
    sk = kmv_sample_sketch(li, ["l_returnflag"], "l_extendedprice",
                           ["l_orderkey", "l_linenumber"], k=64)
    tree = sk._jdf.queryExecution().executedPlan().toString()
    first_exchange = tree.find("Exchange hashpartitioning")
    assert first_exchange != -1
    below = tree[first_exchange:]
    assert "WindowGroupLimit" in below, tree
    assert "Partial" in below[below.find("WindowGroupLimit"):], tree
