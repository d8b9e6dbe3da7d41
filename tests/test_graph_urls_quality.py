"""Round-6 operator units: triangle counting, multi-source BFS, the
declarative quality checker, Bloom-prefiltered decontamination, and URL
canonicalization — analytic fixtures pinning the math the oracles replay
at corpus scale."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_triangle_counts_analytic(spark):
    """K4 + a pendant edge + a triangle-free square: K4 has C(3,2)=3
    triangles per node; the square and pendant contribute none."""
    from fhir_etl_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    square = [(10, 11), (11, 12), (12, 13), (13, 10)]
    pendant = [(0, 20)]
    # mixed orientations + a duplicate edge: canonicalization must absorb
    edges = spark.createDataFrame(
        k4 + square + pendant + [(1, 0)], "src long, dst long"
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_counts_star_is_triangle_free(spark):
    """A high-degree star (the skew case degree orientation exists for)
    has zero triangles — and the hub must not explode the wedge join."""
    from fhir_etl_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 200)], "src long, dst long"
    )
    assert triangle_counts(edges).count() == 0


def test_bfs_hops_path_graph(spark):
    """Path 0-1-2-3-4-5 from source {0}: dist = node index, truncated at
    max_hops; an isolated source still appears at dist 0."""
    from fhir_etl_spark.operators.graph import bfs_hops

    path = [(i, i + 1) for i in range(5)]
    edges = spark.createDataFrame(
        path + [(b, a) for a, b in path], "src long, dst long"
    )
    sources = spark.createDataFrame([(0,), (99,)], "node long")
    got = {r["node"]: r["dist"] for r in bfs_hops(edges, sources, max_hops=3).collect()}
    assert got == {0: 0, 99: 0, 1: 1, 2: 2, 3: 3}  # 4,5 beyond horizon

    full = {r["node"]: r["dist"] for r in bfs_hops(edges, sources, max_hops=10).collect()}
    assert full == {0: 0, 99: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: 5}


def test_bfs_hops_min_distance_on_diamond(spark):
    """Two routes of different lengths to the same node → min wins (the
    frontier finds it on the shorter route first and the anti join blocks
    relabeling)."""
    from fhir_etl_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(0, 1), (1, 9), (0, 2), (2, 3), (3, 9)], "src long, dst long"
    )
    sources = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["dist"] for r in bfs_hops(edges, sources).collect()}
    assert got[9] == 2


def test_check_constraints_statuses(spark):
    """pass/fail per bound kind; NULL observation (min of all-null col)
    fails; duplicate names rejected."""
    from fhir_etl_spark.operators import quality as Q

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", None), (2, None, None)],
        "k long, s string, dead double",
    )
    out = {
        r["check_name"]: (r["observed"], r["status"])
        for r in Q.check_constraints(
            df,
            [
                ("rows", Q.row_count(), 3.0, 3.0),
                ("k_unique", Q.uniqueness("k"), 1.0, 1.0),  # 2/3 → fail
                ("s_complete", Q.completeness("s"), 1.0, None),  # 2/3 → fail
                ("k_min", Q.col_min("k"), None, None),  # unbounded → pass
                ("dead_min", Q.col_min("dead"), 0.0, None),  # NULL → fail
                ("s_domain", Q.in_set_fraction("s", ["a", "b"]), None, 1.0),
            ],
        ).collect()
    }
    assert out["rows"] == (3.0, "pass")
    assert out["k_unique"] == (round(2 / 3, 6), "fail")
    assert out["s_complete"] == (round(2 / 3, 6), "fail")
    assert out["k_min"] == (1.0, "pass")
    assert out["dead_min"] == (None, "fail")
    assert out["s_domain"][1] == "pass"

    with pytest.raises(ValueError, match="duplicate"):
        Q.check_constraints(df, [("x", Q.row_count(), None, None)] * 2)


def test_bloom_matches_exact_even_with_tiny_filter(spark):
    """With a deliberately tiny Bloom (64 bits → heavy false positives)
    the exact-verify join must still make the result identical to the
    exact operator — the filter only ever over-admits."""
    from fhir_etl_spark.operators.contamination import (
        bloom_contamination_hits,
        contamination_hits,
    )

    docs = [
        (i, " ".join(f"w{i}_{j}" for j in range(10)))
        for i in range(30)
    ]
    # doc 0/1 share text with bench docs 100/101 verbatim
    bench = [(100, docs[0][1]), (101, docs[1][1]), (102, "unique bench words here")]
    corpus_df = spark.createDataFrame(docs, "doc_id long, text string")
    bench_df = spark.createDataFrame(bench, "doc_id long, text string")

    exact = {
        (r["doc_id"], r["n_hits"])
        for r in contamination_hits(corpus_df, bench_df, k=3).collect()
    }
    bloomed = {
        (r["doc_id"], r["n_hits"])
        for r in bloom_contamination_hits(
            corpus_df, bench_df, k=3, n_bits=64, n_hashes=2
        ).collect()
    }
    assert bloomed == exact and {d for d, _ in exact} == {0, 1}


def test_bloom_bitset_rejects_non_power_of_two(spark):
    from fhir_etl_spark.operators.contamination import bloom_bitset

    df = spark.createDataFrame([("x",)], "shingle string")
    with pytest.raises(ValueError, match="power of two"):
        bloom_bitset(df, n_bits=1000)


def test_url_components_edges(spark):
    """Bare host, multi-label suffix, no query, utm-only query, fragment
    handling."""
    from fhir_etl_spark.operators.urls import url_components

    df = spark.createDataFrame(
        [
            (1, "https://Example.COM/a/b?utm_campaign=x"),
            (2, "http://sub.x.gov.uk/p?z=1&a=2#frag"),
            (3, "https://localhost/"),
            (4, "https://a.b.c.co.jp"),
        ],
        "id long, url string",
    )
    got = {r["id"]: r for r in url_components(df).collect()}
    assert got[1]["host"] == "example.com"
    assert got[1]["reg_domain"] == "example.com"
    assert got[1]["norm_url"] == "https://example.com/a/b"  # utm-only → no '?'
    assert got[2]["reg_domain"] == "x.gov.uk"
    assert got[2]["norm_url"] == "http://sub.x.gov.uk/p?a=2&z=1"  # sorted, no frag
    assert got[3]["reg_domain"] == "localhost"
    assert got[3]["path_depth"] == 0
    assert got[4]["reg_domain"] == "c.co.jp"


def test_fuzzy_match_edit_kinds(spark):
    """Substitution, insertion, deletion, and exact matches at k=1 are
    all found (FastSS completeness); distance-2 strings are not; k=2
    finds them."""
    from fhir_etl_spark.operators.linkage import fuzzy_match_pairs

    left = spark.createDataFrame(
        [(1, "martha"), (2, "jonathan"), (3, "zz")], "a_id long, a_text string"
    )
    right = spark.createDataFrame(
        [(10, "marhta"),    # 2 substitutions from martha (transposition)
         (11, "martha"),    # exact
         (12, "marta"),     # 1 deletion
         (13, "marthas"),   # 1 insertion
         (14, "msrtha"),    # 1 substitution
         (15, "jonathan")], "b_id long, b_text string",
    )
    got = {
        (r["a_id"], r["b_id"]): r["distance"]
        for r in fuzzy_match_pairs(left, right, max_distance=1).collect()
    }
    assert got == {(1, 11): 0, (1, 12): 1, (1, 13): 1, (1, 14): 1, (2, 15): 0}

    got2 = {
        (r["a_id"], r["b_id"]): r["distance"]
        for r in fuzzy_match_pairs(left, right, max_distance=2).collect()
    }
    assert got2[(1, 10)] == 2  # the transposition appears at k=2
    assert all(d <= 2 for d in got2.values())


def test_fuzzy_match_bucket_cap_logged(spark, caplog):
    """A degenerate variant bucket (constant column) is dropped under the
    cap with a warning, not a quadratic join."""
    import logging as _logging

    from fhir_etl_spark.operators.linkage import fuzzy_match_pairs

    left = spark.createDataFrame(
        [(i, "same") for i in range(40)] + [(99, "other")],
        "a_id long, a_text string",
    )
    right = spark.createDataFrame(
        [(1000 + i, "same") for i in range(40)] + [(1099, "othex")],
        "b_id long, b_text string",
    )
    with caplog.at_level(_logging.WARNING,
                         logger="fhir_etl_spark.operators.linkage"):
        pairs = fuzzy_match_pairs(
            left, right, max_distance=1, max_bucket_size=100
        ).collect()
    assert any("variant bucket" in r.message for r in caplog.records)
    got = {(r["a_id"], r["b_id"]) for r in pairs}
    assert (99, 1099) in got          # under-cap pair survives
    assert not any(a < 99 for a, _ in got)  # 40x40 'same' block dropped


def test_drift_psi_identical_and_shifted(spark):
    """PSI of a distribution against itself is ~0 (only epsilon noise);
    a hard shift lands far above the 0.25 'investigate' bar; underflow/
    overflow values route to the -1 / n_buckets buckets; lo>=hi raises."""
    from fhir_etl_spark.operators.quality import drift_psi

    df = spark.range(1000).select((F.col("id") % 100 * 1.0).alias("v"))
    same = {r["bucket"]: r for r in drift_psi(df, df, "v", 0.0, 100.0).collect()}
    assert abs(same[None]["psi_term"]) < 1e-4  # total row

    shifted = spark.range(1000).select((F.col("id") % 100 + 200.0).alias("v"))
    rows = {r["bucket"]: r for r in drift_psi(df, shifted, "v", 0.0, 100.0).collect()}
    assert rows[None]["psi_term"] > 0.25
    assert rows[10]["p_cur"] > 0.99  # everything overflowed

    under = spark.range(10).select((F.col("id") - 100.0).alias("v"))
    u = {r["bucket"]: r for r in drift_psi(under, df, "v", 0.0, 100.0).collect()}
    assert u[-1]["p_base"] > 0.99  # underflow bucket

    import pytest as _pytest
    with _pytest.raises(ValueError, match="lo < hi"):
        drift_psi(df, df, "v", 5.0, 5.0)


def test_url_components_rejects_column_collision(spark):
    from fhir_etl_spark.operators.urls import url_components

    df = spark.createDataFrame(
        [(1, "https://a.com/x", "pre-existing")], "id long, url string, host string"
    )
    with pytest.raises(ValueError, match="already exist"):
        url_components(df)


def test_in_set_and_pattern_count_nulls_as_nonconforming(spark):
    """A 99%-NULL column must NOT score 1.0 domain/pattern conformance
    (round-6 review finding: avg skips NULL booleans)."""
    from fhir_etl_spark.operators import quality as Q

    df = spark.createDataFrame(
        [("a",)] + [(None,)] * 3, "s string"
    )
    out = {
        r["check_name"]: (r["observed"], r["status"])
        for r in Q.check_constraints(
            df,
            [
                ("domain", Q.in_set_fraction("s", ["a"]), 1.0, 1.0),
                ("pattern", Q.matches_fraction("s", "^a$"), 1.0, 1.0),
            ],
        ).collect()
    }
    assert out["domain"] == (0.25, "fail")
    assert out["pattern"] == (0.25, "fail")


def test_check_constraints_strict_bound_uses_raw_value(spark):
    """One violation in 10M rows rounds to 1.0 but must still FAIL a
    strict ==1.0 uniqueness constraint (status from the raw value)."""
    from fhir_etl_spark.operators import quality as Q

    df = spark.range(10_000_000).select(
        F.when(F.col("id") == 0, F.lit(1)).otherwise(F.col("id")).alias("k")
    )
    [r] = Q.check_constraints(
        df, [("k_unique", Q.uniqueness("k"), 1.0, 1.0)]
    ).collect()
    assert r["observed"] == 1.0  # display rounds up...
    assert r["status"] == "fail"  # ...but the verdict sees the raw ratio


class TestCollocationLift:
    def test_worked_example(self, spark):
        from fhir_etl_spark.operators.text import collocation_lift

        # "new york" co-occur in 3 of 4 docs; "the" is everywhere
        rows = [
            (1, "new york is the big city"),
            (2, "new york has the subway"),
            (3, "new york the city"),
            (4, "the quiet town"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["token_a"], r["token_b"]): r
            for r in collocation_lift(df, min_pair_docs=3, top_k=100).collect()
        }
        ny = got[("new", "york")]
        # df(new)=df(york)=3, df(new,york)=3, N=4 -> lift = 4*3e6//9
        assert ny["pair_docs"] == 3
        assert ny["lift_micro"] == (4 * 3 * 1_000_000) // (3 * 3)
        # ubiquitous pair ("new","the") has lift 4*3e6//(3*4) = 1e6 (=1.0)
        assert got[("new", "the")]["lift_micro"] == 1_000_000
        # ranking: "new york" (1.33) outranks the-pairs (1.0)
        assert ny["rank"] < got[("new", "the")]["rank"]

    def test_per_doc_token_cap_bounds_pairs(self, spark):
        from fhir_etl_spark.operators.text import collocation_lift

        # one doc with 40 distinct tokens; cap=5 -> pairs only among the
        # 5 highest-count tokens (all counts 1 -> lexicographically first 5)
        text = " ".join(f"tok{i:02d}" for i in range(40))
        df = spark.createDataFrame(
            [(i, text) for i in range(3)], "doc_id long, text string"
        )
        got = collocation_lift(
            df, top_tokens_per_doc=5, min_pair_docs=3, top_k=1000
        ).collect()
        assert len(got) == 10  # C(5,2)
        toks = {t for r in got for t in (r["token_a"], r["token_b"])}
        assert toks == {f"tok{i:02d}" for i in range(5)}

    def test_cap_validation(self, spark):
        from fhir_etl_spark.operators.text import collocation_lift

        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError, match="top_tokens_per_doc"):
            collocation_lift(df, top_tokens_per_doc=1)


class TestReferentialIntegrity:
    def test_planted_orphans_counted(self, spark):
        from fhir_etl_spark.operators.quality import referential_integrity

        child = spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30), (4, None), (5, 20)],
            "id long, fk long",
        )
        parent = spark.createDataFrame([(10,), (99,)], "pk long")
        got = {
            r["edge"]: r
            for r in referential_integrity(
                [("child.fk->parent", child, "fk", parent, "pk")]
            ).collect()
        }
        e = got["child.fk->parent"]
        # 5 rows; 1 NULL fk; orphans: 20, 30, 20 -> 3 rows, 2 keys
        assert (e["child_rows"], e["null_fk_rows"],
                e["orphan_rows"], e["orphan_keys"]) == (5, 1, 3, 2)

    def test_empty_edges_rejected(self, spark):
        from fhir_etl_spark.operators.quality import referential_integrity

        with pytest.raises(ValueError, match="at least one edge"):
            referential_integrity([])


class TestScriptProfile:
    def test_scripts_classified(self, spark):
        from fhir_etl_spark.operators.text import script_profile

        rows = [
            (1, "hello world résumé"),
            (2, "中文文本处理很有趣"),
            (3, "Привет мир это тест"),
            (4, "مرحبا بالعالم"),
            (5, "12345 !!! ..."),          # no script chars -> und
            (6, "abc 中文 abc"),            # latin 6 > cjk 2
            (7, "ab 中文"),                 # tie 2-2 -> alphabetical: cjk
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in script_profile(df).collect()}
        assert got[1]["script"] == "latin" and got[1]["latin"] == 16
        assert got[2]["script"] == "cjk" and got[2]["cjk"] == 9
        assert got[3]["script"] == "cyrillic"
        assert got[4]["script"] == "arabic"
        assert got[5]["script"] == "und"
        assert got[6]["script"] == "latin"
        assert got[7]["script"] == "cjk"  # ties break alphabetically

    def test_plan_is_pure_codegen(self, spark):
        from fhir_etl_spark.operators.text import script_profile

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        plan = script_profile(df)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "Exchange" not in plan  # map-only projection


class TestStupidBackoff:
    def test_worked_example(self, spark):
        from fhir_etl_spark.operators.text import stupid_backoff_score

        ref = spark.createDataFrame(
            [(100, "a b a b a c")], "doc_id long, text string"
        )
        # ref bigrams: ab ba ab ba ac -> C(a·)=3, C(ab)=2, C(ac)=1, C(b·)=2,
        # C(ba)=2; unigrams: a×3 b×2 c×1, N=6
        docs = spark.createDataFrame(
            [
                (1, "a b"),      # seen: 2e6 DIV 3 = 666666
                (2, "c a"),      # unseen bigram ca -> backoff on a:
                                 # 2*3*1e6 DIV 30 = 200000
                (3, "a z"),      # unseen bigram + unseen unigram z -> 0
            ],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["n_bigrams"], r["n_backoff"], r["score_micro"])
            for r in stupid_backoff_score(docs, ref).collect()
        }
        assert got[1] == (1, 0, 666_666)
        assert got[2] == (1, 1, 200_000)
        assert got[3] == (1, 1, 0)

    def test_null_reference_text_counts_no_tokens_with_ansi_off(self, spark):
        """N counts the exploded reference tokens; a NULL text has none.
        With ANSI off size(NULL) is -1, which must not leak into N."""
        from fhir_etl_spark.operators.text import stupid_backoff_score

        ref = spark.createDataFrame(
            [(100, "a b a b a c"), (101, None)], "doc_id long, text string"
        )
        docs = spark.createDataFrame([(2, "c a")], "doc_id long, text string")
        before = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", "false")
        try:
            (row,) = stupid_backoff_score(docs, ref).collect()
        finally:
            spark.conf.set("spark.sql.ansi.enabled", before)
        # backoff on a with N=6: 2*3*1e6 DIV 30 (N=5 would give 240000)
        assert row["score_micro"] == 200_000

    def test_empty_reference_raises(self, spark):
        from fhir_etl_spark.operators.text import stupid_backoff_score

        docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError, match="empty reference"):
            stupid_backoff_score(docs, docs.filter("doc_id < 0"))


class TestKCore:
    def test_chain_cascade_and_clique_survival(self, spark):
        from fhir_etl_spark.operators.graph import k_core

        # path 1-2-3-4-5 (peels completely under k=2, one end per round)
        # + clique {10,11,12,13} (4-clique: every node degree 3, survives)
        edges = [(1, 2), (2, 3), (3, 4), (4, 5)]
        edges += [(a, b) for a in (10, 11, 12, 13) for b in (10, 11, 12, 13) if a < b]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["core_degree"] for r in k_core(df, k=2).collect()}
        assert got == {10: 3, 11: 3, 12: 3, 13: 3}
        # k=4 dissolves even the clique
        assert k_core(df, k=4).count() == 0

    def test_partial_cascade(self, spark):
        from fhir_etl_spark.operators.graph import k_core

        # triangle {1,2,3} with a pendant chain 3-4-5: chain peels in
        # two rounds, the triangle stays (each member keeps degree 2)
        df = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
        )
        got = {r["node"]: r["core_degree"] for r in k_core(df, k=2).collect()}
        assert got == {1: 2, 2: 2, 3: 2}

    def test_max_rounds_exhaustion_raises(self, spark):
        from fhir_etl_spark.operators.graph import k_core

        # a 6-path needs ~3 rounds to dissolve under k=2; max_rounds=1
        # must raise, never return a half-peeled set
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 6)], "src long, dst long"
        )
        with pytest.raises(RuntimeError, match="not converged"):
            k_core(df, k=2, max_rounds=1)
        with pytest.raises(ValueError, match="k must be"):
            k_core(df, k=0)

    def test_self_loops_ignored(self, spark):
        from fhir_etl_spark.operators.graph import k_core

        df = spark.createDataFrame(
            [(1, 1), (1, 2), (2, 1)], "src long, dst long"
        )
        # only the 1-2 edge counts: both nodes degree 1 -> k=2 core empty
        assert k_core(df, k=2).count() == 0
