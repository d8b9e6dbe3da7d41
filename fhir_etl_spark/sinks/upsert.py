"""Merge-by-id upsert sink (SURVEY.md §2.1 S9).

Reference ``create_or_extend`` (utils.py:101-135): load the existing NDJSON
into {id: obj}, fold new items in — skipping ids that already exist unless
``update_existing`` — and rewrite the file. Its precedence rules, exactly:

- insert-only: existing wins; among duplicate NEW ids, the FIRST wins
- update:      new wins;      among duplicate NEW ids, the LAST wins

and the file comes out in the dict's insertion order: existing lines stay
in file order (an updated id keeps its place), new ids follow in order of
first arrival. Lines the dict could not key (no id, invalid JSON) and
repeated existing ids keep their place too — every existing line is kept.

Expressed as one full outer join of the existing lines with the
deduplicated new ones on id, and an explicit order key that the NDJSON sink's
single-file gather sorts by (sinks/ndjson.write_lines), so the bytes do not
depend on partitioning or core count.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from fhir_etl_spark.schemas.systems import SUPPORTED_RESOURCE_TYPES
from fhir_etl_spark.sinks.ndjson import serialize_keeping, write_lines


def _keyed_json(resources: DataFrame, order_col: str | None = None) -> DataFrame:
    """(id, json, _seq) from a resource-struct DataFrame.

    ``_seq`` is arrival order: it drives duplicate-id precedence and the
    order new ids are appended in. With ``order_col`` it is that
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
    keyed = serialize_keeping(resources.select("resource", seq.alias("_seq")))
    return keyed.select(
        F.get_json_object("json", "$.id").alias("id"), "json", "_seq"
    )


def _order_key(block: int, pos: Column) -> Column:
    """``(block, pos)``: block 0 holds the existing lines by file position
    (``monotonically_increasing_id`` over the one-file read is partition-
    major, and the file's splits are its partitions in file order), block 1
    the new ids by first arrival."""
    return F.struct(F.lit(block).alias("block"), pos.alias("pos"))


def create_or_extend(
    spark: SparkSession,
    new_items: DataFrame,
    folder_path: str,
    resource_type: str,
    update_existing: bool = False,
    order_col: str | None = None,
) -> str:
    """Upsert the ``resource`` column of ``new_items`` into
    ``{folder}/{resource_type}.ndjson``.

    If ``new_items`` was shuffled/repartitioned, pass ``order_col`` naming a
    column that defines arrival order for duplicate-id precedence (see
    _keyed_json)."""
    assert resource_type in SUPPORTED_RESOURCE_TYPES, (
        f"Invalid resource type: {resource_type}"
    )
    file_path = os.path.join(folder_path, f"{resource_type}.ndjson")
    new = _keyed_json(new_items, order_col)
    # one row per new id, at its first arrival, holding the winning line:
    # first wins (insert-only) / last wins (update mode) — utils.py:120-122
    # dict-overwrite order
    pick = F.max_by if update_existing else F.min_by
    new_deduped = new.groupBy("id").agg(
        pick("json", "_seq").alias("_new"), _order_key(1, F.min("_seq")).alias("_new_order")
    )

    if os.path.exists(file_path):
        existing = spark.read.text(file_path).select(
            F.get_json_object("value", "$.id").alias("id"),
            F.col("value").alias("_old"),
            _order_key(0, F.monotonically_increasing_id()).alias("_old_order"),
        )
        # NULL ids never match, so unkeyed lines on either side pass through
        both = existing.join(new_deduped, "id", "full")
        line = F.coalesce("_new", "_old") if update_existing else F.coalesce("_old", "_new")
        order = F.coalesce("_old_order", "_new_order")
    else:
        both, line, order = new_deduped, F.col("_new"), F.col("_new_order")

    # rewrite the whole file (same contract as the reference)
    lines = both.select(line.alias("json"), order.alias("_order"))
    return write_lines(lines, folder_path, resource_type, "_order")
