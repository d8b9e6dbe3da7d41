"""Validation operator (SURVEY.md §2.9 N2, §3.3) — the reference's
``fhir_etl validate --path DIR`` CLI (cli.py:17-45) as a DataFrame split:

    validate_dir(spark, dir) → (summary {type: count}, errors DataFrame)

Two tiers (SURVEY.md §4.3):
- structural: every line must parse as JSON and carry a valid resourceType
  + a version-5 UUID id (PERMISSIVE read, corrupt lines → errors, job never
  fails — at 100 TB a bad line is data, not an exception)
- semantic: per-type rules compiled to boolean columns (required fields,
  enum domains); failures carry a rule name into the errors side-output —
  mirroring the CLI's per-line exception report (cli.py:36-39) but as a
  queryable DataFrame instead of stdout.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fhir_etl_spark.schemas.systems import SUPPORTED_RESOURCE_TYPES

UUID_V5_REGEX = r"^[0-9a-f]{8}-[0-9a-f]{4}-5[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$"

# Semantic rules per resource type: (rule_name, JSONPath, predicate kind, arg)
# Kinds: 'required' (non-null), 'enum' (value in set)
SEMANTIC_RULES: dict[str, list[tuple[str, str, str, tuple[str, ...]]]] = {
    "Patient": [("identifier_required", "$.identifier[0].value", "required", ())],
    "ResearchSubject": [
        ("status_enum", "$.status", "enum", ("candidate", "eligible", "on-study", "off-study", "withdrawn")),
        ("study_required", "$.study.reference", "required", ()),
        ("subject_required", "$.subject.reference", "required", ()),
    ],
    "Specimen": [("identifier_required", "$.identifier[0].value", "required", ())],
    "ResearchStudy": [("status_enum", "$.status", "enum", ("active", "completed", "withdrawn"))],
    "Group": [
        ("type_enum", "$.type", "enum", ("person", "animal", "practitioner", "device", "careteam", "healthcareservice", "location", "organization", "relatedperson", "specimen")),
        ("membership_enum", "$.membership", "enum", ("definitional", "enumerated")),
    ],
    "DocumentReference": [
        ("status_enum", "$.status", "enum", ("current", "superseded", "entered-in-error")),
        ("content_required", "$.content[0].attachment", "required", ()),
    ],
}


@dataclass
class ValidationResult:
    summary: dict[str, int]
    errors: DataFrame

    @property
    def ok(self) -> bool:
        return self.errors.isEmpty()


def _validate_lines(lines: DataFrame) -> DataFrame:
    """lines(path, value) → (path, resource_type, id, error) — error NULL
    when the line passes all structural + semantic checks."""
    rt = F.get_json_object("value", "$.resourceType")
    rid = F.get_json_object("value", "$.id")

    structural = (
        F.when(rt.isNull(), F.lit("parse_error_or_missing_resourceType"))
        .when(~rt.isin(*SUPPORTED_RESOURCE_TYPES), F.concat(F.lit("invalid_resource_type:"), rt))
        .when(rid.isNull(), F.lit("missing_id"))
        .when(~F.lower(rid).rlike(UUID_V5_REGEX), F.lit("id_not_uuid5"))
    )

    # one term per rule, in rule order: the first failing rule wins
    semantic = []
    for rtype, rules in SEMANTIC_RULES.items():
        for rule_name, path, kind, args in rules:
            value = F.get_json_object("value", path)
            if kind == "required":
                failed = value.isNull()
            else:
                failed = value.isNull() | ~value.isin(*args)
            semantic.append(F.when((rt == rtype) & failed, F.lit(f"{rtype}.{rule_name}")))

    return lines.select(
        "path",
        rt.alias("resource_type"),
        rid.alias("id"),
        F.coalesce(structural, *semantic).alias("error"),
        F.col("value").alias("raw"),
    )


def structural_roundtrip(
    spark: SparkSession, ndjson_path: str, resource_type: str
) -> DataFrame:
    """Tier-(a) structural validation (SURVEY.md §4.3): parse each line with
    the FIXED resource StructType in FAILFAST-per-row form — a row whose
    shape disagrees with the schema comes back with a NULL parsed struct.
    Returns (raw, parsed, structurally_valid)."""
    from fhir_etl_spark.schemas.fhir import RESOURCE_SCHEMAS

    schema = RESOURCE_SCHEMAS[resource_type]
    lines = spark.read.text(ndjson_path).filter(F.trim("value") != "")
    parsed = lines.select(
        F.col("value").alias("raw"),
        F.from_json("value", schema, {"mode": "FAILFAST"}).alias("parsed"),
    )
    return parsed.withColumn(
        "structurally_valid",
        F.col("parsed").isNotNull() & (F.col("parsed.resourceType") == resource_type),
    )


def validate_dir(spark: SparkSession, folder_path: str) -> ValidationResult:
    """Validate every ``*.ndjson`` under ``folder_path``; summary counts only
    non-erroring resources per type (the CLI's result.resources split,
    cli.py:34-41). Raises ``ValueError`` when there is none."""
    files = sorted(glob.glob(os.path.join(folder_path, "*.ndjson")))
    if not files:
        raise ValueError(f"no NDJSON files under {folder_path}")
    lines = spark.read.text(files).select(
        F.input_file_name().alias("path"), F.col("value")
    ).filter(F.trim("value") != "")

    checked = _validate_lines(lines)
    errors = checked.filter(F.col("error").isNotNull()).select(
        "path", "resource_type", "id", "error", "raw"
    )
    passed = checked.filter(F.col("error").isNull())
    summary_rows = passed.groupBy("resource_type").count().collect()
    summary = {r["resource_type"]: r["count"] for r in summary_rows}
    return ValidationResult(summary=summary, errors=errors)
