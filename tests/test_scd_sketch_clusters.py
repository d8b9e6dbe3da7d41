"""SCD2 merge, dedup clustering, and sketch operators."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_scd2_lifecycle(spark):
    from fhir_etl_spark.operators.scd import OPEN_END, scd2_init, scd2_merge

    snap = spark.createDataFrame(
        [("c1", "addr A", "2020-01-01 00:00:00"), ("c2", "addr B", "2020-01-01 00:00:00")],
        "key string, address string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    history = scd2_init(snap, "key", "ts")

    changes = spark.createDataFrame(
        [
            ("c1", "addr A2", "2021-06-01 00:00:00"),  # real change
            ("c2", "addr B", "2021-06-01 00:00:00"),  # no-op
            ("c3", "addr C", "2021-06-01 00:00:00"),  # new key
        ],
        "key string, address string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    merged = scd2_merge(history, changes, "key", "ts", ["address"])
    rows = {(r["key"], r["address"]): r for r in merged.collect()}

    assert len(rows) == 4  # c1 old + c1 new + c2 untouched + c3 new
    closed = rows[("c1", "addr A")]
    assert not closed["is_current"] and str(closed["valid_to"]).startswith("2021-06-01")
    assert rows[("c1", "addr A2")]["is_current"]
    assert rows[("c2", "addr B")]["is_current"]  # no-op: untouched, not versioned
    assert str(rows[("c2", "addr B")]["valid_to"]).startswith("9999")
    assert rows[("c3", "addr C")]["is_current"]
    assert OPEN_END.startswith("9999")


def test_dedup_clusters_and_representatives(spark):
    from fhir_etl_spark.operators.dedup import dedup_clusters, dedup_keep_representatives

    # components: {1,2,3,4} (chain), {7,9}; 5 and 6 unpaired
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 9)], "a long, b long"
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 9: 7}
    # driver union-find path (default threshold) and distributed
    # label-propagation path (threshold forced off) must agree exactly
    clusters = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()
    }
    assert clusters == expected
    distributed = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(pairs, driver_threshold_edges=0).collect()
    }
    assert distributed == expected

    docs = spark.createDataFrame([(i, f"d{i}") for i in [1, 2, 3, 4, 5, 6, 7, 9]], "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in dedup_keep_representatives(docs, pairs).collect())
    assert kept == [1, 5, 6, 7]


def test_merge_into_row_fates(spark):
    """All five row fates: matched-update, matched-delete, source-only
    insert, source-only delete (never inserted), target-only keep."""
    from pyspark.sql import functions as F

    from fhir_etl_spark.operators.merge import merge_into

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, v string, x double"
    )
    source = spark.createDataFrame(
        [(2, "B", 99.0),       # matched → update
         (3, "DEL", -1.0),     # matched + delete_condition → drop
         (4, "d", 40.0),       # source-only → insert
         (5, "DEL", -2.0)],    # source-only + delete_condition → never inserted
        "k long, v string, x double",
    )
    got = {
        r["k"]: (r["v"], r["x"])
        for r in merge_into(
            target, source, on="k", delete_condition=F.col("v") == "DEL"
        ).collect()
    }
    assert got == {1: ("a", 10.0), 2: ("B", 99.0), 4: ("d", 40.0)}

    # insert-only mode (update_when_matched=False) keeps target versions
    got2 = {
        r["k"]: r["v"]
        for r in merge_into(
            target, source, on="k", update_when_matched=False
        ).collect()
    }
    assert got2 == {1: "a", 2: "b", 3: "c", 4: "d", 5: "DEL"}


def test_merge_into_duplicate_source_keys(spark):
    """Duplicate source keys multiply matched target rows through the
    full-outer join (the documented precondition);
    validate_unique_source_keys=True turns that into a loud in-plan
    failure, mirroring Delta's multiple-match error."""
    import pytest

    from fhir_etl_spark.operators.merge import merge_into

    target = spark.createDataFrame([(1, "a")], "k long, v string")
    dup_source = spark.createDataFrame([(1, "x"), (1, "y")], "k long, v string")
    with pytest.raises(Exception, match="duplicate source rows|ASSERT"):
        merge_into(
            target, dup_source, on="k", validate_unique_source_keys=True
        ).collect()
    # unique keys pass through the validation unchanged
    ok_source = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
    got = {
        r["k"]: r["v"]
        for r in merge_into(
            target, ok_source, on="k", validate_unique_source_keys=True
        ).collect()
    }
    assert got == {1: "x", 2: "y"}


def test_pagerank_analytic_small_graph(spark):
    """3-node cycle → uniform 1/3 regardless of damping; star graph →
    ranks match a plain-Python twin to 1e-9 (deterministic per-node sums
    on a tiny graph)."""
    from fhir_etl_spark.operators.graph import pagerank

    cycle = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    got = {r["node"]: r["rank"] for r in pagerank(cycle, n_iterations=5).collect()}
    for v in got.values():
        assert abs(v - 1 / 3) < 1e-9

    # star: 2,3,4 -> 1; 1 dangling (mass redistributes uniformly)
    star = spark.createDataFrame([(2, 1), (3, 1), (4, 1)], "src long, dst long")

    def twin(n_iter, d=0.85, n=4):
        ranks = {k: 1 / n for k in (1, 2, 3, 4)}
        for _ in range(n_iter):
            dang = ranks[1]  # node 1 has no out-edges
            base = (1 - d) / n + d * dang / n
            new = {k: base for k in ranks}
            new[1] += d * (ranks[2] + ranks[3] + ranks[4])
            ranks = new
        return ranks

    got = {r["node"]: r["rank"] for r in pagerank(star, n_iterations=7).collect()}
    expected = twin(7)
    assert set(got) == set(expected)
    for k in got:
        assert abs(got[k] - expected[k]) < 1e-9, (k, got[k], expected[k])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_snapshot_diff_row_fates(spark):
    """insert/update/delete/unchanged classification, null-safe value
    comparison (NULL→value and value→NULL are updates; NULL→NULL is
    unchanged), composite keys, and the missing-column guard."""
    import pytest
    from pyspark.sql import functions as F

    from fhir_etl_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, None, 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),      # unchanged → dropped
         (2, "b", 20.0),      # NULL→20 = update
         (4, None, None),     # 40→NULL = update (s stays NULL=NULL)
         (5, "e", 50.0)],     # insert; k=3 deleted
        "k long, s string, v double",
    )
    got = {r["k"]: r for r in snapshot_diff(old, new, on="k").collect()}
    assert set(got) == {2, 3, 4, 5}
    assert got[2]["op"] == "update" and got[2]["new_v"] == 20.0
    assert got[3]["op"] == "delete" and got[3]["new_s"] is None
    assert got[4]["op"] == "update" and got[4]["old_v"] == 40.0
    assert got[5]["op"] == "insert" and got[5]["old_s"] is None

    # composite key + restricted compare set: v ignored → k(1,'a') drops
    old2 = spark.createDataFrame(
        [(1, "a", 1.0, "x"), (1, "b", 2.0, "y")], "k long, kk string, v double, t string"
    )
    new2 = spark.createDataFrame(
        [(1, "a", 99.0, "x"), (1, "b", 2.0, "z")], "k long, kk string, v double, t string"
    )
    rows = snapshot_diff(old2, new2, on=["k", "kk"], compare_cols=["t"]).collect()
    assert [(r["k"], r["kk"], r["op"]) for r in rows] == [(1, "b", "update")]

    with pytest.raises(ValueError, match="absent"):
        snapshot_diff(old, new.drop("v"), on="k")


def test_incremental_agg_update_row_fates(spark):
    """IVM fold vs full recompute on a hand-built changeset: inserts,
    deletes, value updates, a group MIGRATION, and a group vanishing
    entirely; missing changeset columns rejected."""
    import pytest
    from pyspark.sql import functions as F

    from fhir_etl_spark.operators.ivm import build_agg_view, incremental_agg_update
    from fhir_etl_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "c", 40.0)],
        "id long, g string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),   # unchanged
         (2, "b", 20.0),   # migrates a → b
         (4, "c", 45.0),   # value update; id=3 deleted → group b loses it
         (5, "d", 50.0)],  # insert into fresh group
        "id long, g string, v double",
    )
    view0 = build_agg_view(old, ["g"], "v")
    cs = snapshot_diff(old, new, on="id", compare_cols=["g", "v"])
    got = {
        r["g"]: (r["n_rows"], r["sum_value"])
        for r in incremental_agg_update(view0, cs, ["g"], "v").collect()
    }
    expect = {
        r["g"]: (r["n_rows"], r["sum_value"])
        for r in build_agg_view(new, ["g"], "v").collect()
    }
    assert got == expect == {
        "a": (1, 10.0), "b": (1, 20.0), "c": (1, 45.0), "d": (1, 50.0)
    }

    with pytest.raises(ValueError, match="missing columns"):
        incremental_agg_update(view0, cs.drop("old_g"), ["g"], "v")


def test_incremental_agg_update_null_keys_and_values(spark):
    """Round-6 second-review findings: NULL group keys must FOLD (not
    duplicate) through a null-safe merge, NULL->value and value->NULL
    updates must move the sum, and an all-NULL-valued group reports
    sum_value NULL (not 0) — all pinned against the full recompute."""
    from pyspark.sql import functions as F

    from fhir_etl_spark.operators.ivm import build_agg_view, incremental_agg_update
    from fhir_etl_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, None, 10.0), (2, None, None), (3, "a", None), (4, "a", None),
         (5, "b", 5.0)],
        "id long, g string, v double",
    )
    new = spark.createDataFrame(
        [(1, None, 10.0),   # unchanged (NULL-key group gets a delta from id 2)
         (2, None, 25.0),   # NULL->25 in the NULL-key group
         (3, "a", 7.0),     # NULL->7: group 'a' leaves the all-NULL state
         (4, "a", None),    # still NULL
         (6, "b", None)],   # insert NULL value; id 5 deleted -> b all-NULL
        "id long, g string, v double",
    )
    view0 = build_agg_view(old, ["g"], "v")
    cs = snapshot_diff(old, new, on="id", compare_cols=["g", "v"])
    inc = incremental_agg_update(view0, cs, ["g"], "v")
    got = {r["g"]: (r["n_rows"], r["n_vals"], r["sum_value"]) for r in inc.collect()}
    expect = {
        r["g"]: (r["n_rows"], r["n_vals"], r["sum_value"])
        for r in build_agg_view(new, ["g"], "v").collect()
    }
    assert got == expect == {
        None: (2, 2, 35.0),   # one row per NULL-key group, folded
        "a": (2, 1, 7.0),     # NULL->7 moved the sum
        "b": (1, 0, None),    # all values NULL -> SQL sum is NULL, not 0
    }
    assert inc.count() == 3  # the NULL-key group did not duplicate


def test_incremental_agg_update_rejects_unknown_op(spark):
    """ADVICE r06: a malformed op in a hand-built changeset must error at
    execution, not fall through to the update branch and corrupt the
    view."""
    import pytest

    from fhir_etl_spark.operators.ivm import build_agg_view, incremental_agg_update

    view0 = build_agg_view(
        spark.createDataFrame([(1, "a", 10.0)], "id long, g string, v double"),
        ["g"],
        "v",
    )
    for bad in ("upsert", None):
        cs = spark.createDataFrame(
            [(bad, "a", "a", 10.0, 11.0)],
            "op string, old_g string, new_g string, old_v double, new_v double",
        )
        with pytest.raises(Exception, match="unknown op"):
            incremental_agg_update(view0, cs, ["g"], "v").collect()


def test_snapshot_diff_rejects_columns_absent_from_old(spark):
    """ADVICE r06: explicit compare_cols/keys missing from the OLD
    snapshot get the clear ValueError, not an unresolved-column
    AnalysisException deep in the plan."""
    import pytest

    from fhir_etl_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame([(1, 2.0)], "k long, v double")
    new = spark.createDataFrame([(1, 2.0, "x")], "k long, v double, extra string")
    with pytest.raises(ValueError, match="absent from old"):
        snapshot_diff(old, new, on="k", compare_cols=["v", "extra"])


def test_kmv_sketch_exact_mergeability_and_accuracy(spark):
    """The law that makes bottom-k sketches a scale tool:
    sketch(A ∪ B) == kmv_merge(sketch(A), sketch(B)) BIT-FOR-BIT (min-k
    of a union is min-k of the per-part min-ks) — plus rank-space
    accuracy of the quantile reads on a known distribution."""
    from pyspark.sql import functions as F

    from fhir_etl_spark.operators.sketch import (
        kmv_merge,
        kmv_quantiles,
        kmv_sample_sketch,
    )

    full = spark.range(20_000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.col("id").alias("rid"),
        # value: a deterministic permutation-ish spread over [0, 20000)
        F.pmod(F.col("id") * 7919, F.lit(20_000)).cast("double").alias("v"),
    )
    a = full.filter(F.col("rid") < 12_000)
    b = full.filter(F.col("rid") >= 12_000)

    def rows(df):
        return {
            r["g"]: [(e["h"], e["v"]) for e in r["sample"]]
            for r in df.collect()
        }

    whole = rows(kmv_sample_sketch(full, ["g"], "v", ["rid"], k=64))
    merged = rows(
        kmv_merge(
            kmv_sample_sketch(a, ["g"], "v", ["rid"], k=64).unionByName(
                kmv_sample_sketch(b, ["g"], "v", ["rid"], k=64)
            ),
            ["g"],
            k=64,
        )
    )
    assert whole == merged  # exact, not approximate
    assert all(len(s) == 64 for s in whole.values())

    # quantile reads: uniform values -> qXX should land near XX% of the
    # range; k=64 gives ~1/sqrt(64) rank error, assert a loose 15%
    q = kmv_quantiles(
        kmv_sample_sketch(full, ["g"], "v", ["rid"], k=64), ["g"],
        [0.25, 0.50, 0.75],
    )
    for r in q.collect():
        for p, col in [(0.25, "q25"), (0.50, "q50"), (0.75, "q75")]:
            assert abs(r[col] / 20_000 - p) < 0.15, (r["g"], col, r[col])


def test_kmv_sketch_small_group_underflow(spark):
    """Groups smaller than k keep every row (sample == group) and the
    quantile reads degrade to exact nearest-rank."""
    from pyspark.sql import functions as F

    from fhir_etl_spark.operators.sketch import kmv_quantiles, kmv_sample_sketch

    tiny = spark.createDataFrame(
        [("x", i, float(i)) for i in range(5)], "g string, rid long, v double"
    )
    sk = kmv_sample_sketch(tiny, ["g"], "v", ["rid"], k=64)
    [row] = sk.collect()
    assert sorted(e["v"] for e in row["sample"]) == [0.0, 1.0, 2.0, 3.0, 4.0]
    [qr] = kmv_quantiles(sk, ["g"], [0.5]).collect()
    assert qr["q50"] == 2.0  # exact median of 0..4


def test_kmv_quantiles_rejects_colliding_prob_names(spark):
    """Round-7 review: probs that round to the same whole percent would
    silently overwrite each other's column — must raise instead."""
    import pytest

    from fhir_etl_spark.operators.sketch import kmv_quantiles, kmv_sample_sketch

    tiny = spark.createDataFrame(
        [("x", i, float(i)) for i in range(5)], "g string, rid long, v double"
    )
    sk = kmv_sample_sketch(tiny, ["g"], "v", ["rid"], k=8)
    with pytest.raises(ValueError, match="collide"):
        kmv_quantiles(sk, ["g"], [0.25, 0.254])


def test_kmv_distinct_estimate_accuracy_and_exact_tier(spark):
    """KMV distinct-value estimation: groups under k are EXACT; groups
    over k estimate within the ~1/sqrt(k) band. Duplicate rows per value
    must not perturb anything (the value-set construction dedups before
    the bottom-k slice — the bug this test pins had duplicates flooding
    the k slots down to 6 survivors out of 200 values)."""
    from pyspark.sql import functions as F

    from fhir_etl_spark.operators.sketch import (
        kmv_distinct_estimate,
        kmv_sample_sketch,
    )

    df = spark.range(30_000).select(
        F.when(F.col("id") % 2 == 0, "big").otherwise("small").alias("g"),
        # even ids cycle even residues mod 1500 (750 distinct), odd ids
        # odd residues mod 20 (10 distinct) — every value repeated ~20x
        # (the duplication that broke the multiset slice)
        F.when(F.col("id") % 2 == 0, F.col("id") % 1500)
        .otherwise(F.col("id") % 20)
        .alias("val"),
    )
    sk = kmv_sample_sketch(df, ["g"], "val", ["val"], k=64)
    est = {
        r["g"]: r["distinct_est"]
        for r in kmv_distinct_estimate(sk, ["g"], k=64).collect()
    }
    assert est["small"] == 10.0  # below k: exact, not estimated
    assert abs(est["big"] / 750 - 1) < 0.40  # one draw of a ~13%-sd estimator


def test_kmv_null_values_excluded_from_sketch(spark):
    """Round-8 advice fix (medium): NULL values must be EXCLUDED before
    hashing — the same convention as Spark's own sketch aggregates.
    Previously a NULL entered as _v=null (high quantile reads returned
    null) and, with row_key_cols=[value_col], hashed as md5('') —
    counting NULL as one extra distinct value and colliding with ''."""
    from fhir_etl_spark.operators.sketch import (
        kmv_distinct_estimate,
        kmv_quantiles,
        kmv_sample_sketch,
    )

    rows = [("g", float(i)) for i in range(40)] + [("g", None)] * 10
    df = spark.createDataFrame(rows, "g string, v double")
    sk = kmv_sample_sketch(df, ["g"], "v", ["v"], k=64)
    [r] = sk.collect()
    assert len(r["sample"]) == 40  # nulls contributed nothing
    assert all(e["v"] is not None for e in r["sample"])
    [qr] = kmv_quantiles(sk, ["g"], [0.95]).collect()
    assert qr["q95"] is not None  # the silent-null read the fix targets
    [er] = kmv_distinct_estimate(sk, ["g"]).collect()
    assert er["distinct_est"] == 40.0  # exact tier; NULL not a 41st value


def test_kmv_non_castable_value_col_raises(spark):
    """Round-8 review finding: a NON-null value that fails the double
    cast must raise loudly — silently filtering it (the first cut of the
    NULL fix) emptied the entire sketch for a string value_col, the same
    silent-vanish failure mode the empty-sample guard prevents. True
    NULLs are still skipped."""
    import pytest

    from fhir_etl_spark.operators.sketch import kmv_sample_sketch

    strings = spark.createDataFrame(
        [("g", "user-1"), ("g", "user-2")], "g string, v string"
    )
    with pytest.raises(Exception, match="not numeric-castable"):
        kmv_sample_sketch(strings, ["g"], "v", ["v"], k=8).collect()

    # numeric strings cast fine and NULLs are skipped, as before
    ok = spark.createDataFrame(
        [("g", "1.5"), ("g", "2.5"), ("g", None)], "g string, v string"
    )
    [row] = kmv_sample_sketch(ok, ["g"], "v", ["v"], k=8).collect()
    assert sorted(e["v"] for e in row["sample"]) == [1.5, 2.5]


def test_kmv_merge_rejects_empty_sample_rows(spark):
    """Round-8 advice fix: explode() silently DROPPED a sketch row whose
    sample array was empty/null — a group whose every row was empty
    vanished from the merged output. kmv_sample_sketch can never emit
    one (groupBy has no empty groups), so an empty sample means a
    corrupted sketch table and must raise loudly."""
    import pytest

    from fhir_etl_spark.operators.sketch import kmv_merge

    empty = spark.createDataFrame(
        [("g", [], 16)], "g string, sample array<struct<h string, v double>>, k int"
    )
    with pytest.raises(Exception, match="empty/null sample"):
        kmv_merge(empty, ["g"]).collect()


def test_kmv_merge_mixed_k_detected_despite_shared_entries(spark):
    """Round-8 advice fix: the (group, h, v) dedup key excluded k, so
    when two sketches built at DIFFERENT k shared every entry, one k
    value survived arbitrarily and the final mixed-k check could be
    masked. The consistency check now runs on the pre-dedup entries."""
    import pytest

    from fhir_etl_spark.operators.sketch import kmv_merge, kmv_sample_sketch

    df = spark.createDataFrame(
        [("g", i, float(i)) for i in range(6)], "g string, rid long, v double"
    )
    # 6 rows < both ks → both sketches hold the IDENTICAL 6 entries,
    # which is exactly the masking shape
    s8 = kmv_sample_sketch(df, ["g"], "v", ["rid"], k=8)
    s16 = kmv_sample_sketch(df, ["g"], "v", ["rid"], k=16)
    with pytest.raises(Exception, match="mixed k"):
        kmv_merge(s8.unionByName(s16), ["g"]).collect()


def test_kmv_merge_replay_idempotent(spark):
    """Folding the SAME sketch in twice must be a no-op (dedup on hashed
    row identity before the min-k rank — a multiset rank would
    double-count)."""
    from fhir_etl_spark.operators.sketch import kmv_merge, kmv_sample_sketch

    df = spark.range(500).selectExpr(
        "'g' AS g", "id AS rid", "cast(id * 13 % 500 as double) AS v"
    )
    sk = kmv_sample_sketch(df, ["g"], "v", ["rid"], k=32)

    def rows(s):
        return {r["g"]: [(e["h"], e["v"]) for e in r["sample"]] for r in s.collect()}

    replayed = kmv_merge(sk.unionByName(sk), ["g"], k=32)
    assert rows(replayed) == rows(sk)


class TestCountMinSketch:
    def test_estimate_never_undercounts_and_is_exact_without_collisions(
        self, spark
    ):
        # CMS guarantee: estimate >= true count, with equality when no
        # other value collides in ALL depth rows. A 3-value stream into
        # 4x1024 counters collides with probability ~(3/1024)^4 — the
        # worked example is collision-free, so estimates are EXACT.
        from pyspark.sql import functions as F

        from fhir_etl_spark.operators.sketch import cms_counters, cms_point_query

        vals = ["alpha"] * 7 + ["beta"] * 3 + ["gamma"] * 1
        df = spark.createDataFrame([(v,) for v in vals], "v string")
        counters = cms_counters(df, "v", depth=4, width=1024, salt="cms")
        probes = spark.createDataFrame(
            [("alpha",), ("beta",), ("gamma",), ("absent",)], "term string"
        )
        est = {
            r["term"]: r["cms_estimate"]
            for r in cms_point_query(
                counters, probes, depth=4, width=1024, salt="cms"
            ).collect()
        }
        assert est == {"alpha": 7, "beta": 3, "gamma": 1, "absent": 0}

    def test_overcount_nonnegative_on_corpus(self, spark):
        from fhir_etl_spark.queries import all_queries

        rows = (
            all_queries()["x16_count_min_sketch"]
            .fn(spark, "/root/testdata/sf0.001")
            .collect()
        )
        assert rows and all(r["overcount"] >= 0 for r in rows)
        assert all(r["cms_estimate"] >= r["true_count"] for r in rows)
