"""T4 (SURVEY.md §5.2): validate-summary parity on the golden META dirs —
the counts documented in the reference README (README.md:35,38)."""

from __future__ import annotations

import os

import pytest

from fhir_etl_spark.operators.validate import validate_dir

ONEKG_GOLDEN = "/root/reference/fhir_etl/oneKgenomes/META"
GTEX_GOLDEN = "/root/reference/fhir_etl/GTEx/META"


@pytest.mark.skipif(not os.path.isdir(ONEKG_GOLDEN), reason="no reference checkout")
def test_validate_summary_onekg_golden(spark):
    result = validate_dir(spark, ONEKG_GOLDEN)
    assert result.summary == {
        "DocumentReference": 48,
        "Specimen": 3500,
        "ResearchStudy": 1,
        "ResearchSubject": 3500,
        "Group": 1,
        "Patient": 3500,
    }
    assert result.ok, result.errors.limit(5).collect()


@pytest.mark.skipif(not os.path.isdir(GTEX_GOLDEN), reason="no reference checkout")
def test_validate_summary_gtex_golden(spark):
    result = validate_dir(spark, GTEX_GOLDEN)
    # Specimen.ndjson stripped upstream (.MISSING_LARGE_BLOBS); remaining
    # counts match README.md:38
    assert result.summary == {
        "DocumentReference": 49,
        "ResearchStudy": 1,
        "ResearchSubject": 980,
        "Group": 1,
        "Patient": 980,
    }
    assert result.ok


def test_validate_catches_errors(spark, tmp_path):
    bad = tmp_path / "Patient.ndjson"
    bad.write_text(
        "\n".join(
            [
                '{"resourceType": "Patient", "id": "fb96f2a9-8ec2-5784-ba62-16f168155434", "identifier": [{"value": "ok"}]}',
                '{"resourceType": "Patient", "id": "not-a-uuid", "identifier": [{"value": "x"}]}',
                '{"resourceType": "Banana", "id": "fb96f2a9-8ec2-5784-ba62-16f168155434"}',
                "this is not json",
                '{"resourceType": "DocumentReference", "id": "fb96f2a9-8ec2-5784-ba62-16f168155434", "status": "bogus", "content": [{"attachment": {"url": "x"}}]}',
                # each fails two rules: the first rule in SEMANTIC_RULES order is reported
                '{"resourceType": "ResearchSubject", "id": "fb96f2a9-8ec2-5784-ba62-16f168155434", "status": "bogus", "subject": {"reference": "Patient/x"}}',
                '{"resourceType": "Group", "id": "fb96f2a9-8ec2-5784-ba62-16f168155434", "type": "bogus", "membership": "bogus"}',
            ]
        )
    )
    result = validate_dir(spark, str(tmp_path))
    assert result.summary == {"Patient": 1}
    errors = {r["error"] for r in result.errors.collect()}
    assert errors == {
        "id_not_uuid5",
        "invalid_resource_type:Banana",
        "parse_error_or_missing_resourceType",
        "DocumentReference.status_enum",
        "ResearchSubject.status_enum",
        "Group.type_enum",
    }


def test_validate_dir_reads_the_directory_as_it_is_now(spark, tmp_path):
    """Two calls in one session over a rewritten directory: the second
    call reports the new lines, not the first call's."""
    good = '{"resourceType": "Patient", "id": "%s", "identifier": [{"value": "ok"}]}'
    f = tmp_path / "Patient.ndjson"
    f.write_text(good % "fb96f2a9-8ec2-5784-ba62-16f168155434" + "\n")
    first = validate_dir(spark, str(tmp_path))
    assert first.summary == {"Patient": 1} and first.ok

    f.write_text(
        "\n".join(
            [
                good % "fb96f2a9-8ec2-5784-ba62-16f168155434",
                good % "fb96f2a9-8ec2-5784-ba62-16f168155435",
                "garbage",
            ]
        )
        + "\n"
    )
    second = validate_dir(spark, str(tmp_path))
    assert second.summary == {"Patient": 2}
    assert [r["raw"] for r in second.errors.collect()] == ["garbage"]


def test_validate_plan_stays_linear_in_rules(spark):
    """Each semantic rule adds a constant amount to the error expression;
    nesting every rule inside the next doubled it per rule (2,339
    get_json_object calls in the analyzed plan for the 10 rules)."""
    from fhir_etl_spark.operators.validate import _validate_lines

    lines = spark.createDataFrame([("p", "{}")], "path string, value string")
    plan = _validate_lines(lines)._jdf.queryExecution().analyzed().toString()
    assert plan.count("get_json_object") < 100


def test_validate_dir_compiles_without_codegen_fallback(spark, tmp_path):
    """With the interpreted fallback switched off, a whole-stage codegen
    compile error in validate_dir's plan raises instead of being logged."""
    f = tmp_path / "Group.ndjson"
    f.write_text(
        '{"resourceType": "Group", "id": "fb96f2a9-8ec2-5784-ba62-16f168155434", "type": "specimen", "membership": "bogus"}\n'
    )
    key = "spark.sql.codegen.fallback"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        result = validate_dir(spark, str(tmp_path))
        assert [r["error"] for r in result.errors.collect()] == ["Group.membership_enum"]
    finally:
        spark.conf.set(key, before)

