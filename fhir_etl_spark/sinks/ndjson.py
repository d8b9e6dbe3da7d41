"""NDJSON sink (SURVEY.md §2.1 S8).

The reference writes one JSON object per line per resource type
(output_to_ndjson, oneKg_fhirizer.py:49-62): ``{folder}/{ResourceType}.ndjson``,
one file. Here that is a ``coalesce(1)`` text write staged in a temp dir
and moved into place — a deliberate single-writer ceiling that keeps the
reference's layout for golden diffs. ``write_lines`` is that write, shared
by ``write_ndjson`` and the upsert sink (sinks/upsert.create_or_extend).

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


def serialize(resources: DataFrame, col_name: str = "resource") -> DataFrame:
    """struct column → one JSON string per row, nulls dropped (N1 final layer)."""
    return serialize_keeping(resources, col_name).select("json")


def serialize_keeping(resources: DataFrame, col_name: str = "resource") -> DataFrame:
    """:func:`serialize` that keeps every column of ``resources`` other than
    ``col_name`` beside ``json`` (the upsert sink carries its order key)."""
    pruned = prune_empty(resources, col_name)
    return pruned.withColumn(
        "json",
        # a resource pruned to nothing serializes as '{}' (the reference's
        # remove_empty_dicts returns {} at the top level, utils.py:144-153)
        F.coalesce(
            F.to_json(F.col(col_name), {"ignoreNullFields": "true"}), F.lit("{}")
        ),
    ).drop(col_name)


def write_lines(lines: DataFrame, folder_path: str, resource_type: str) -> str:
    """Write the one string column of ``lines`` as ``{folder}/{ResourceType}.ndjson``
    without collecting to the driver: stage a single-part text write, then
    move the part into place (replacing any existing file). Returns the path."""
    os.makedirs(folder_path, exist_ok=True)
    target = os.path.join(folder_path, f"{resource_type}.ndjson")
    with tempfile.TemporaryDirectory() as tmp:
        staging = os.path.join(tmp, "out")
        lines.coalesce(1).write.mode("overwrite").text(staging)
        parts = sorted(glob.glob(os.path.join(staging, "part-*")))
        assert len(parts) == 1, f"expected one part file, got {parts}"
        shutil.move(parts[0], target)
    return target


def write_ndjson(
    resources: DataFrame,
    folder_path: str,
    resource_type: str,
    col_name: str = "resource",
) -> str:
    """Write ``{folder}/{ResourceType}.ndjson``. Returns the path."""
    return write_lines(serialize(resources, col_name), folder_path, resource_type)


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
