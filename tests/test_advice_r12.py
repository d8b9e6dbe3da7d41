"""Repro tests for the round-11 ADVICE items:

1. (low) the plan-audit broadcast allowlist must scope the generic
   names 'ranked' and 'counters' to their one documented call site
   ((path, name) pairs), not globally — a future F.broadcast(ranked)
   on a scaling table elsewhere must be flagged.
2. (low) c6's cid packing (doc_id*100000 + chunk_index) must enforce
   its 100k-chunks/doc contract at runtime: a violating chunk_index
   raises USER_RAISED_EXCEPTION instead of silently aliasing another
   document's chunk ids into the BM25 corpus join.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

import pyspark.sql.functions as F

# --- 1: broadcast allowlist scoping ---------------------------------------


def _audit_sets():
    """Extract ALLOWED_BASES / SCOPED_ALLOWED literals from the audit
    test's AST (they are locals of test_no_broadcast_hints_on_scaling_
    tables, pinned here so a refactor can't silently re-globalize)."""
    src = (pathlib.Path(__file__).parent / "test_plans.py").read_text()
    tree = ast.parse(src)
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and len(node.targets) == 1:
            t = node.targets[0]
            if isinstance(t, ast.Name) and t.id in ("ALLOWED_BASES", "SCOPED_ALLOWED"):
                out[t.id] = ast.literal_eval(node.value)
    return out


def test_generic_names_are_scoped_not_global():
    sets = _audit_sets()
    assert "ranked" not in sets["ALLOWED_BASES"]
    assert "counters" not in sets["ALLOWED_BASES"]
    assert ("queries/capstone.py", "ranked") in sets["SCOPED_ALLOWED"]
    assert ("operators/sketch.py", "counters") in sets["SCOPED_ALLOWED"]
    # every scoped pair points at a real file that really broadcasts it
    root = pathlib.Path(__file__).parent.parent / "fhir_etl_spark"
    for rel, name in sets["SCOPED_ALLOWED"]:
        assert f"broadcast({name}" in (root / rel).read_text(), (rel, name)


# --- 2: c6 chunk-id packing guard -----------------------------------------


def test_chunk_pack_within_contract(spark):
    from fhir_etl_spark.queries.capstone import _chunk_index_guard, _pack_chunk_id

    df = spark.createDataFrame(
        [(7, 0), (7, 99999), (3, 42)], "doc_id long, chunk_index long"
    )
    got = {
        r["cid"]
        for r in df.where(_chunk_index_guard(F.col("chunk_index")))
        .select(
            _pack_chunk_id(F.col("doc_id"), F.col("chunk_index")).alias("cid")
        )
        .collect()
    }
    assert got == {700000, 799999, 300042}


def test_chunk_pack_overflow_raises_loudly(spark):
    from fhir_etl_spark.queries.capstone import _chunk_index_guard, _pack_chunk_id

    df = spark.createDataFrame([(7, 100000)], "doc_id long, chunk_index long")
    with pytest.raises(Exception, match="USER_RAISED_EXCEPTION|chunk_index"):
        df.where(_chunk_index_guard(F.col("chunk_index"))).select(
            _pack_chunk_id(F.col("doc_id"), F.col("chunk_index")).alias("cid")
        ).collect()


def test_chunk_pack_guard_is_filter_only_and_jvm_side(spark):
    """The guard must live ONLY in Filter nodes (one comparison per
    chunk-source replay), never inside the cid expression: embedding
    raise_error in cid let InferFiltersFromJoinKeys duplicate the
    guarded CASE into isnotnull() filters and join-key projections —
    measured 2× wall on c6 at sf10-shape. Pin the mechanism: no
    isnotnull(CASE...) inference over the guard, every raise_error
    line is a Filter, and the plan stays Python-free."""
    from fhir_etl_spark.queries import all_queries

    df = all_queries()["c6_rag_pipeline"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "isnotnull(CASE WHEN" not in plan
    for line in plan.splitlines():
        if "raise_error" in line:
            assert "Filter" in line, line[:160]
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in exec_plan
