"""Merge-by-id upsert sink (SURVEY.md §2.1 S9).

Reference ``create_or_extend`` (utils.py:101-135): load the existing NDJSON
into {id: obj}, fold new items in — skipping ids that already exist unless
``update_existing`` — and rewrite the file. Its precedence rules, exactly:

- insert-only: existing wins; among duplicate NEW ids, the FIRST wins
- update:      new wins;      among duplicate NEW ids, the LAST wins

Expressed as anti-join + unionByName over JSON lines keyed by id, then the
NDJSON sink's single-file write (sinks/ndjson.write_lines).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fhir_etl_spark.schemas.systems import SUPPORTED_RESOURCE_TYPES
from fhir_etl_spark.sinks.ndjson import serialize_keeping, write_lines


def _keyed_json(
    resources: DataFrame, col_name: str, order_col: str | None = None
) -> DataFrame:
    """(id, json, _seq) from a resource-struct DataFrame.

    ``_seq`` drives duplicate-id precedence. With ``order_col`` it is that
    column (explicit, shuffle-safe). Otherwise it falls back to
    ``monotonically_increasing_id()``, which numbers rows PARTITION-MAJOR —
    it equals arrival order only while partition order equals row order
    (true for a single-file read or any narrow pipeline on it, NOT
    guaranteed after a shuffle/repartition of ``resources``). Callers that
    shuffled first must pass ``order_col``.
    """
    seq = (
        F.monotonically_increasing_id() if order_col is None else F.col(order_col).cast("long")
    )
    keyed = serialize_keeping(resources.select(col_name, seq.alias("_seq")), col_name)
    return keyed.select(
        F.get_json_object("json", "$.id").alias("id"), "json", "_seq"
    )


def create_or_extend(
    spark: SparkSession,
    new_items: DataFrame,
    folder_path: str,
    resource_type: str,
    update_existing: bool = False,
    col_name: str = "resource",
    order_col: str | None = None,
) -> str:
    """Upsert ``new_items`` into ``{folder}/{resource_type}.ndjson``.

    If ``new_items`` was shuffled/repartitioned, pass ``order_col`` naming a
    column that defines arrival order for duplicate-id precedence (see
    _keyed_json)."""
    assert resource_type in SUPPORTED_RESOURCE_TYPES, (
        f"Invalid resource type: {resource_type}"
    )
    file_path = os.path.join(folder_path, f"{resource_type}.ndjson")
    new = _keyed_json(new_items, col_name, order_col)
    # duplicate-id precedence among new rows: first wins (insert-only) /
    # last wins (update mode) — utils.py:120-122 dict-overwrite order
    order = F.col("_seq").asc() if not update_existing else F.col("_seq").desc()
    w = Window.partitionBy("id").orderBy(order)
    new_deduped = (
        new.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn", "_seq")
    )

    if os.path.exists(file_path):
        existing = spark.read.text(file_path).select(
            F.get_json_object("value", "$.id").alias("id"), F.col("value").alias("json")
        )
        if update_existing:
            merged = existing.join(new_deduped, "id", "left_anti").unionByName(new_deduped)
        else:
            merged = existing.unionByName(new_deduped.join(existing, "id", "left_anti"))
    else:
        merged = new_deduped

    # rewrite the whole file (same contract as the reference)
    return write_lines(merged.select("json"), folder_path, resource_type)
