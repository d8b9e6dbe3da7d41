"""Training-dataset operators: determinism/stability properties and plan
hygiene (split/sample/mix must be narrow; shard_shuffle exactly one hash
shuffle, no global sort)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from fhir_etl_spark.operators.datasets import (
    shard_shuffle,
    split_assign,
    stratified_sample,
    weighted_mix,
)
from fhir_etl_spark.session import load_tables


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_split_is_stable_under_growth(spark, sf_dir):
    """Enlarging the train fraction must not move any row OUT of the later
    splits' kept region: test membership under 80/10/10 is a subset of test
    membership under 60/20/20 (cumulative-range property)."""
    docs = load_tables(spark, sf_dir, "documents")
    small_train = split_assign(docs, "doc_id", {"train": 0.6, "val": 0.2, "test": 0.2})
    big_train = split_assign(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    test_small = {
        r["doc_id"] for r in small_train.filter(F.col("split") == "test").collect()
    }
    test_big = {
        r["doc_id"] for r in big_train.filter(F.col("split") == "test").collect()
    }
    assert test_big and test_big <= test_small


def test_split_partition_invariant(spark, sf_dir):
    """The same row gets the same split regardless of input partitioning."""
    docs = load_tables(spark, sf_dir, "documents")
    a = split_assign(docs, "doc_id", {"train": 0.7, "test": 0.3})
    b = split_assign(docs.repartition(17), "doc_id", {"train": 0.7, "test": 0.3})
    assert {(r["doc_id"], r["split"]) for r in a.collect()} == {
        (r["doc_id"], r["split"]) for r in b.collect()
    }


def test_split_and_sample_are_narrow_plans(spark, sf_dir):
    docs = load_tables(spark, sf_dir, "documents")
    split_plan = _plan(split_assign(docs, "doc_id", {"train": 0.8, "test": 0.2}))
    assert "Exchange" not in split_plan
    events = load_tables(spark, sf_dir, "events")
    sample_plan = _plan(
        stratified_sample(events, "event_type", "event_id", {"click": 0.1})
    )
    assert "Exchange" not in sample_plan


def test_stratified_fractions_approximate(spark, sf_dir):
    events = load_tables(spark, sf_dir, "events")
    totals = dict(
        events.groupBy("event_type").count().rdd.map(tuple).collect()
    )
    kept = dict(
        stratified_sample(
            events, "event_type", "event_id", {"error": 0.5}, default_fraction=0.1
        )
        .groupBy("event_type")
        .count()
        .rdd.map(tuple)
        .collect()
    )
    for etype, n in totals.items():
        want = 0.5 if etype == "error" else 0.1
        got = kept.get(etype, 0) / n
        assert abs(got - want) < 0.05, (etype, got, want)


def test_weighted_mix_aligns_schemas_and_weights(spark, sf_dir):
    docs = load_tables(spark, sf_dir, "documents")
    a = docs.select("doc_id", "text")
    b = docs.select("doc_id", "lang")  # different columns on purpose
    mixed = weighted_mix({"a": (a, 1.0), "b": (b, 1.0)}, key="doc_id")
    assert set(mixed.columns) == {"doc_id", "text", "lang", "src"}
    n_docs = docs.count()
    by_src = dict(mixed.groupBy("src").count().rdd.map(tuple).collect())
    assert by_src == {"a": n_docs, "b": n_docs}  # weight 1.0 keeps everything
    # null-fill on the unshared columns
    assert mixed.filter((F.col("src") == "a") & F.col("lang").isNotNull()).count() == 0


def test_shard_shuffle_dense_positions_and_determinism(spark, sf_dir):
    docs = load_tables(spark, sf_dir, "documents")
    out = shard_shuffle(docs, "doc_id", n_shards=4).select("doc_id", "shard", "pos")
    rows = out.collect()
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) == {0, 1, 2, 3}
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # partitioning-independent: same (doc_id, shard, pos) from a reshuffled input
    again = (
        shard_shuffle(docs.repartition(13), "doc_id", n_shards=4)
        .select("doc_id", "shard", "pos")
        .collect()
    )
    assert {tuple(r) for r in rows} == {tuple(r) for r in again}


def test_shard_shuffle_no_global_sort(spark, sf_dir):
    """Exactly one hash-partition shuffle on the shard id; never a range
    exchange (global sort) — the property that keeps this O(n/k) per node
    at 100 TB."""
    docs = load_tables(spark, sf_dir, "documents")
    plan = _plan(shard_shuffle(docs, "doc_id", n_shards=8))
    assert "rangepartitioning" not in plan.lower()
    shuffles = re.findall(r"\(\d+\) Exchange", plan)
    assert len(shuffles) == 1, plan


def test_leakage_safe_split_keeps_clusters_together(spark, sf_dir):
    """Every member of a near-dup cluster must receive the SAME split —
    the whole point of the cluster-aware key (a per-row split can put one
    near-dup in train and its twin in test)."""
    from fhir_etl_spark.operators.datasets import leakage_safe_split
    from fhir_etl_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs

    docs = load_tables(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    split = leakage_safe_split(
        docs, pairs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    clusters = dedup_clusters(pairs)
    n_violations = (
        split.join(clusters, "doc_id")
        .groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert n_violations == 0
    # and at least one multi-member cluster exists, or the test is vacuous
    assert clusters.groupBy("cluster_id").count().filter("count > 1").count() > 0


def test_quota_cap_deterministic_and_bounded(spark, sf_dir):
    """At most per_key rows per key; identical output across two runs; a
    corpus APPEND displaces at most (new rows) of the previous selection
    per key (hash-rank stability)."""
    from fhir_etl_spark.operators.datasets import quota_cap

    docs = load_tables(spark, sf_dir, "documents")
    capped = quota_cap(docs, "source", per_key=10, order_key="doc_id")
    counts = capped.groupBy("source").count().collect()
    assert all(r["count"] <= 10 for r in counts)
    a = {(r["doc_id"]) for r in capped.select("doc_id").collect()}
    b = {(r["doc_id"]) for r in quota_cap(docs, "source", per_key=10, order_key="doc_id").select("doc_id").collect()}
    assert a == b
    # append half the corpus again under shifted ids: previously-selected
    # rows keep their hash rank, so each key's selection changes only where
    # a new row hashes into the top-10
    grown = docs.unionByName(
        docs.limit(250).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    regrown = {
        r["doc_id"]
        for r in quota_cap(grown, "source", per_key=10, order_key="doc_id")
        .select("doc_id")
        .collect()
    }
    # old selection minus displaced rows is still selected
    assert len(a - regrown) <= 250


def test_temperature_weights_math():
    """T=1 → natural proportions (all rates = cap); T→∞ → equal expected
    contributions; T=2 sits between; invalid inputs raise."""
    import pytest

    from fhir_etl_spark.operators.datasets import temperature_weights

    w = temperature_weights({"a": 1000, "b": 100, "c": 10}, temperature=1.0)
    assert all(abs(v - 1.0) < 1e-12 for v in w.values())

    w = temperature_weights({"a": 1000, "b": 100}, temperature=1e9)
    assert abs(w["a"] * 1000 - w["b"] * 100) < 1e-6

    w = temperature_weights({"a": 1000, "b": 10}, temperature=2.0, cap=0.9)
    assert max(w.values()) == pytest.approx(0.9)
    assert w["a"] * 1000 > w["b"] * 10  # big source still contributes more
    assert w["b"] > w["a"]  # but small source is up-weighted per row

    with pytest.raises(ValueError):
        temperature_weights({}, 2.0)
    with pytest.raises(ValueError):
        temperature_weights({"a": 10}, 0.0)
    with pytest.raises(ValueError):
        temperature_weights({"a": 0}, 2.0)


import pytest


class TestTokenBudgetMix:
    def test_worked_example_with_cap_and_deficit(self, spark):
        from fhir_etl_spark.operators.datasets import token_budget_mix

        df = spark.createDataFrame(
            [
                (1, "web", "a b c d e f g h i j"),   # 10 tokens
                (2, "web", "a b c d e f g h i j"),   # web: 20 available
                (3, "books", "x y"),                 # books: 2 available
            ],
            "doc_id long, source string, text string",
        )
        out = {
            r["source"]: r
            for r in token_budget_mix(
                df, {"web": 1, "books": 3}, token_budget=40
            ).collect()
        }
        # web: desired 40*1//4=10, epochs=min(10e6//20, 3e6)=500000,
        #      allocated=min(10, 20*500000//1e6=10)=10, deficit 0
        w = out["web"]
        assert (w["desired_tokens"], w["epochs_micro"],
                w["allocated_tokens"], w["deficit_tokens"]) == (10, 500_000, 10, 0)
        # books: desired 30, epochs=min(30e6//2=15e6, 3e6)=3e6 CAPPED,
        #        allocated=min(30, 2*3e6//1e6=6)=6, deficit 24
        b = out["books"]
        assert (b["desired_tokens"], b["epochs_micro"],
                b["allocated_tokens"], b["deficit_tokens"]) == (30, 3_000_000, 6, 24)

    def test_count_col_overrides_whitespace_proxy(self, spark):
        # ds13 path: a precomputed per-row token count (e.g. exact BPE
        # counts under a frozen vocab) replaces the whitespace proxy —
        # same arithmetic, different available_tokens basis
        from fhir_etl_spark.operators.datasets import token_budget_mix

        df = spark.createDataFrame(
            [
                (1, "web", "a b c d e f g h i j", 25),
                (2, "web", "a b c d e f g h i j", 15),  # web: 40 exact
                (3, "books", "x y", 4),                 # books: 4 exact
            ],
            "doc_id long, source string, text string, n_bpe long",
        )
        out = {
            r["source"]: r
            for r in token_budget_mix(
                df, {"web": 1, "books": 3}, token_budget=40, count_col="n_bpe"
            ).collect()
        }
        # web: available 40 (not 20), desired 10, epochs 250000,
        #      allocated min(10, 40*250000//1e6=10)=10
        assert (out["web"]["available_tokens"], out["web"]["epochs_micro"]) == (
            40,
            250_000,
        )
        # books: available 4, desired 30, epochs capped 3e6,
        #        allocated min(30, 4*3)=12, deficit 18
        assert (
            out["books"]["available_tokens"],
            out["books"]["allocated_tokens"],
            out["books"]["deficit_tokens"],
        ) == (4, 12, 18)

    def test_unknown_source_raises_loudly(self, spark):
        from fhir_etl_spark.operators.datasets import token_budget_mix

        df = spark.createDataFrame(
            [(1, "mystery", "a b")], "doc_id long, source string, text string"
        )
        with pytest.raises(Exception, match="no weight for source"):
            token_budget_mix(df, {"web": 1}, token_budget=10).collect()

    def test_parameter_validation(self, spark):
        from fhir_etl_spark.operators.datasets import token_budget_mix

        df = spark.createDataFrame(
            [(1, "web", "a")], "doc_id long, source string, text string"
        )
        with pytest.raises(ValueError, match="token_budget"):
            token_budget_mix(df, {"web": 1}, token_budget=0)
        with pytest.raises(ValueError, match="non-negative"):
            token_budget_mix(df, {"web": -1}, token_budget=10)
        with pytest.raises(ValueError, match="positive total"):
            token_budget_mix(df, {"web": 0}, token_budget=10)


def test_token_budget_mix_zero_token_source_raises(spark):
    from fhir_etl_spark.operators.datasets import token_budget_mix

    df = spark.createDataFrame(
        [(1, "web", "a b"), (2, "empty", "   ")],
        "doc_id long, source string, text string",
    )
    with pytest.raises(Exception, match="zero available tokens"):
        token_budget_mix(df, {"web": 1, "empty": 1}, token_budget=10).collect()


def test_ivfpq_small_corpus_and_geometry_guard(spark):
    from fhir_etl_spark.operators.similarity import ivf_pq_build, ivf_pq_search

    df = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    # corpus (5) smaller than n_list (8): fewer lists, no IndexError
    codes, coarse, codebook = ivf_pq_build(
        df, dim=8, n_list=8, m=2, sub_k=4, n_iterations=2
    )
    assert len(coarse) == 5 and codes.count() == 5
    queries = df.limit(1).selectExpr("vec_id AS query_id", "embedding")
    got = ivf_pq_search(
        codes, coarse, codebook, queries, k=3, n_probe=2,
        m=2, sub_len=4, sub_k=4,
    ).collect()
    assert len(got) >= 1
    with pytest.raises(ValueError, match="must equal the coarse"):
        ivf_pq_search(
            codes, coarse, codebook, queries, k=3, m=2, sub_len=3, sub_k=4
        )
