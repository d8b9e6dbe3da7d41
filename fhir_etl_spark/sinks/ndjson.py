"""NDJSON sink (SURVEY.md §2.1 S8).

The reference writes one JSON object per line per resource type
(output_to_ndjson, oneKg_fhirizer.py:49-62): ``{folder}/{ResourceType}.ndjson``,
one file, in input order. Here that is an order-carrying gather: every
line gets an order key, one shuffle moves them to a single partition, which
sorts by the key and writes one part, staged next to the target and renamed
into place. Only that last task is single; everything upstream of it
(source scans, fhirize, prune, ``to_json``) runs at the plan's own
parallelism. ``write_lines`` is that write, shared by ``write_ndjson`` and
the upsert sink (sinks/upsert.create_or_extend).

Serialization happens exactly once (`to_json` on the struct column) — the
reference round-trips JSON 2-3× per row (utils.py:220-228); the engine IR
stays native structs until here (SURVEY.md §3.4).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fhir_etl_spark.operators.prune import prune_empty


def serialize(resources: DataFrame) -> DataFrame:
    """``resource`` struct column → one JSON string per row, nulls dropped
    (N1 final layer)."""
    return serialize_keeping(resources).select("json")


def serialize_keeping(resources: DataFrame) -> DataFrame:
    """:func:`serialize` that keeps every column of ``resources`` other than
    ``resource`` beside ``json`` (the upsert sink carries its order key)."""
    return prune_empty(resources).withColumn(
        "json",
        # a resource pruned to nothing serializes as '{}' (the reference's
        # remove_empty_dicts returns {} at the top level, utils.py:144-153)
        F.coalesce(
            F.to_json(F.col("resource"), {"ignoreNullFields": "true"}), F.lit("{}")
        ),
    ).drop("resource")


def write_lines(
    lines: DataFrame, folder_path: str, resource_type: str, order_col: str | None = None
) -> str:
    """Write the one string column of ``lines`` as ``{folder}/{ResourceType}.ndjson``
    without collecting to the driver, in the order of ``order_col`` (a
    column of ``lines`` that is dropped before the write). Without it the
    key is ``monotonically_increasing_id()``: partition-major, the order a
    single reader of the plan's partitions sees. ``repartition(1)`` +
    ``sortWithinPartitions`` rather than ``orderBy``, whose range
    partitioning would add a sampling job.

    The part is staged in a hidden directory inside ``folder_path`` and
    published with one ``os.replace`` — a rename on the same filesystem, so
    after a crash the old file or the new one is in place, never a torn
    one. Returns the path."""
    if order_col is None:
        order_col = "_order"
        lines = lines.withColumn(order_col, F.monotonically_increasing_id())
    gathered = lines.repartition(1).sortWithinPartitions(order_col).drop(order_col)
    os.makedirs(folder_path, exist_ok=True)
    target = os.path.join(folder_path, f"{resource_type}.ndjson")
    staging = tempfile.mkdtemp(prefix=f".{resource_type}.", dir=folder_path)
    try:
        out = os.path.join(staging, "out")
        gathered.write.text(out)
        parts = sorted(glob.glob(os.path.join(out, "part-*")))
        assert len(parts) == 1, f"expected one part file, got {parts}"
        os.replace(parts[0], target)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return target


def write_ndjson(resources: DataFrame, folder_path: str, resource_type: str) -> str:
    """Write the ``resource`` column as ``{folder}/{ResourceType}.ndjson``.
    Returns the path."""
    return write_lines(serialize(resources), folder_path, resource_type)


def read_ndjson(spark, path: str, schema=None) -> DataFrame:
    """Read NDJSON back (S7). PERMISSIVE mode + _corrupt_record column
    reproduces the reference's skip-bad-lines (document_references.py:196-199)
    without failing the job."""
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)
