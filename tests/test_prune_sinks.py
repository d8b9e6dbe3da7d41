"""N1 prune semantics (utils.py:138-161 truth table) and S8/S9 sinks."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from fhir_etl_spark.sinks.ndjson import serialize
from fhir_etl_spark.sinks.upsert import create_or_extend


def _roundtrip(spark, col):
    df = spark.range(1).select(col.alias("resource"))
    return json.loads(serialize(df).first()["json"])


def test_prune_drops_empty_string_keeps_zero(spark):
    out = _roundtrip(
        spark,
        F.struct(
            F.lit("").alias("empty_str"),
            F.lit(0).alias("zero"),
            F.lit(False).alias("falsy_bool"),
            F.lit("x").alias("kept"),
        ),
    )
    assert out == {"zero": 0, "falsy_bool": False, "kept": "x"}


def test_prune_drops_empty_array_and_all_null_struct(spark):
    out = _roundtrip(
        spark,
        F.struct(
            F.array().cast("array<string>").alias("empty_list"),
            F.array(F.lit(""), F.lit(None).cast("string")).alias("list_of_empties"),
            F.struct(
                F.lit(None).cast("string").alias("a"), F.lit("").alias("b")
            ).alias("hollow_struct"),
            F.array(F.lit("keep"), F.lit("")).alias("partial_list"),
        ),
    )
    assert out == {"partial_list": ["keep"]}


def test_prune_recurses_nested(spark):
    out = _roundtrip(
        spark,
        F.struct(
            F.array(
                F.struct(F.lit("").alias("x"), F.lit(None).cast("string").alias("y"))
            ).alias("arr_of_hollow"),
            F.struct(
                F.struct(F.lit("deep").alias("v")).alias("inner")
            ).alias("nested_kept"),
        ),
    )
    assert out == {"nested_kept": {"inner": {"v": "deep"}}}


def _chain_schema(depth):
    """A struct chain ``depth`` levels deep; every level holds a string, a
    long, an array of structs and the next level."""
    from pyspark.sql import types as T

    leaf = T.StructType([T.StructField("s", T.StringType()), T.StructField("n", T.LongType())])
    level = leaf
    for _ in range(depth):
        level = T.StructType([
            T.StructField("s", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("items", T.ArrayType(leaf)),
            T.StructField("child", level),
        ])
    return T.StructType([T.StructField("resource", level)])


def test_prune_plan_grows_polynomially_with_depth(spark):
    """Each level builds its children once (plus a linear emptiness test),
    so doubling the depth may not multiply the pruned plan by more than 4
    (a doubling expression per level gives ~20x here)."""
    from fhir_etl_spark.operators.prune import prune_empty

    def plan_chars(depth):
        df = spark.createDataFrame([], _chain_schema(depth))
        return len(prune_empty(df)._jdf.queryExecution().analyzed().toString())

    assert plan_chars(8) <= 4 * plan_chars(4)


def _resources(spark, pairs):
    return spark.createDataFrame(pairs, "id string, v string").select(
        F.struct(F.col("id"), F.col("v")).alias("resource")
    )


def _read_file(path):
    with open(path) as f:
        return {json.loads(l)["id"]: json.loads(l) for l in f if l.strip()}


def test_upsert_insert_only_and_update(spark, tmp_path):
    folder = str(tmp_path)
    create_or_extend(
        spark, _resources(spark, [("a", "1"), ("b", "1")]), folder, "Patient"
    )
    # insert-only: existing 'a' wins; new 'c' inserted; dup new id: first wins
    create_or_extend(
        spark,
        _resources(spark, [("a", "2"), ("c", "first"), ("c", "second")]),
        folder,
        "Patient",
        update_existing=False,
    )
    data = _read_file(f"{folder}/Patient.ndjson")
    assert data["a"]["v"] == "1"
    assert data["c"]["v"] == "first"
    # update mode: new wins; dup new id: last wins
    create_or_extend(
        spark,
        _resources(spark, [("a", "3"), ("c", "x"), ("c", "y")]),
        folder,
        "Patient",
        update_existing=True,
    )
    data = _read_file(f"{folder}/Patient.ndjson")
    assert data["a"]["v"] == "3"
    assert data["c"]["v"] == "y"
    assert data["b"]["v"] == "1"


def test_upsert_explicit_order_col_survives_shuffle(spark, tmp_path):
    """monotonically_increasing_id precedence is only valid pre-shuffle; an
    explicit order column must pin first/last-wins even after repartition
    reorders rows (ADVICE r01)."""
    folder = str(tmp_path)
    rows = spark.createDataFrame(
        [("c", "v0", 0), ("c", "v1", 1), ("c", "v2", 2), ("d", "x", 0)],
        "id string, v string, arrival int",
    )
    shuffled = rows.repartition(8, "v").select(
        F.struct(F.col("id"), F.col("v")).alias("resource"), "arrival"
    )
    create_or_extend(
        spark, shuffled, folder, "Patient", update_existing=True, order_col="arrival"
    )
    data = _read_file(f"{folder}/Patient.ndjson")
    assert data["c"]["v"] == "v2"  # last arrival wins in update mode
    assert data["d"]["v"] == "x"


def test_write_lines_failed_publish_keeps_old_file(spark, tmp_path, monkeypatch):
    """The publish is one os.replace from a staging directory inside the
    target folder: if it fails, the old file is intact and no staging
    directory is left behind."""
    import os

    import pytest

    from fhir_etl_spark.sinks import ndjson

    target = tmp_path / "Patient.ndjson"
    target.write_bytes(b'{"id":"old"}\n')

    def fail_replace(src, dst):
        raise OSError("simulated crash at publish")

    monkeypatch.setattr(ndjson.os, "replace", fail_replace)
    lines = spark.createDataFrame([('{"id":"new"}',)], "json string")
    with pytest.raises(OSError, match="simulated crash"):
        ndjson.write_lines(lines, str(tmp_path), "Patient")
    monkeypatch.undo()

    assert target.read_bytes() == b'{"id":"old"}\n'
    assert os.listdir(tmp_path) == ["Patient.ndjson"]

    ndjson.write_lines(lines, str(tmp_path), "Patient")
    assert target.read_bytes() == b'{"id":"new"}\n'
    assert os.listdir(tmp_path) == ["Patient.ndjson"]
