"""GTEx golden parity (reference fhir_etl/GTEx/META). Specimen.ndjson was
stripped from the reference as a large blob (.MISSING_LARGE_BLOBS), so
Specimen gets a structural unit test; everything else is compared
deep-equal against golden, and the Group envelope (minus the
unreconstructable member list) against the golden Group."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

GOLDEN_DIR = "/root/reference/fhir_etl/GTEx/META"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(GOLDEN_DIR), reason="reference golden files not available"
)


def load_golden(name: str) -> dict[str, dict]:
    out = {}
    with open(f"{GOLDEN_DIR}/{name}.ndjson") as f:
        for line in f:
            if line.strip():
                obj = json.loads(line)
                out[obj["id"]] = obj
    return out


def _ext_value(res: dict, url: str) -> str | None:
    for ext in res.get("extension", []):
        if ext["url"] == url:
            return ext.get("valueString")
    return None


@pytest.fixture(scope="module")
def subjects_df(spark):
    """Reconstruct the GTEx subject table from golden Patient rows."""
    from fhir_etl_spark.schemas import systems as S

    rows = []
    for p in load_golden("Patient").values():
        deceased = p["deceasedBoolean"]
        hardy = _ext_value(p, S.CONDITION_DUETO_URL) if deceased else None
        age_range = _ext_value(p, S.PATIENT_AGE_URL)
        if age_range:
            hi_birth, lo_birth = age_range.split(" - ")
            bracket = f"{2025 - int(lo_birth)}-{2025 - int(hi_birth)}"
        else:
            bracket = "0-9"  # unused branch for deceased subjects
        rows.append(
            (
                p["identifier"][0]["value"],
                _ext_value(p, S.US_CORE_SEX_URL),
                bracket,
                hardy,
            )
        )
    return spark.createDataFrame(
        rows, "subjectId string, sex string, ageBracket string, hardyScale string"
    )


def _assert_matches(path: str, golden: dict[str, dict]):
    with open(path) as f:
        mine = {json.loads(l)["id"]: json.loads(l) for l in f if l.strip()}
    assert set(mine) == set(golden), f"{len(mine)} vs {len(golden)} ids"
    for rid in mine:
        assert mine[rid] == golden[rid], (
            f"{rid}:\n  mine : {mine[rid]}\n  golden: {golden[rid]}"
        )


def test_patient_gtex_golden(spark, subjects_df, tmp_path):
    from fhir_etl_spark.operators.fhirize_gtex import fhirize_patient_gtex
    from fhir_etl_spark.sinks.ndjson import write_ndjson

    write_ndjson(fhirize_patient_gtex(subjects_df), str(tmp_path), "Patient")
    _assert_matches(f"{tmp_path}/Patient.ndjson", load_golden("Patient"))


def test_research_subject_gtex_golden(spark, subjects_df, tmp_path):
    from fhir_etl_spark.operators.fhirize_gtex import fhirize_research_subject_gtex
    from fhir_etl_spark.sinks.ndjson import write_ndjson

    write_ndjson(
        fhirize_research_subject_gtex(subjects_df), str(tmp_path), "ResearchSubject"
    )
    _assert_matches(f"{tmp_path}/ResearchSubject.ndjson", load_golden("ResearchSubject"))


def test_research_study_gtex_golden(spark, tmp_path):
    from fhir_etl_spark.operators.fhirize_gtex import research_study_gtex
    from fhir_etl_spark.sinks.ndjson import write_ndjson

    write_ndjson(research_study_gtex(spark), str(tmp_path), "ResearchStudy")
    _assert_matches(f"{tmp_path}/ResearchStudy.ndjson", load_golden("ResearchStudy"))


@pytest.fixture(scope="module")
def filelist_df(spark):
    """Reconstruct the nested fileList payload from golden DocumentReferences,
    prepending a dummy protected fileset that the positional drop removes."""
    docs = load_golden("DocumentReference")
    from fhir_etl_spark.schemas import systems as S

    filesets: dict[tuple[str, str], list] = {}
    for d in docs.values():
        prof = d["content"][0]["profile"][0]["valueCoding"]
        key = (prof["display"], prof["code"])
        filesets.setdefault(key, []).append(
            {
                "name": d["identifier"][0]["value"],
                "release": d["version"],
                "type": d["type"]["coding"][0]["code"],
                "size": _ext_value(d, S.FILE_SIZE_URL),
            }
        )
    fs_rows = [
        {
            "name": "Protected and raw data",
            "subpath": "protected_data",
            "files": [{"name": "secret.bam", "release": "v8", "type": "file", "size": "1G"}],
        }
    ] + [
        {"name": name, "subpath": subpath, "files": files}
        for (name, subpath), files in sorted(filesets.items())
    ]
    file_schema = T.ArrayType(
        T.StructType(
            [
                T.StructField("name", T.StringType()),
                T.StructField("release", T.StringType()),
                T.StructField("type", T.StringType()),
                T.StructField("size", T.StringType()),
            ]
        )
    )
    schema = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField(
                "filesets",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("name", T.StringType()),
                            T.StructField("subpath", T.StringType()),
                            T.StructField("files", file_schema),
                        ]
                    )
                ),
            ),
        ]
    )
    data = [
        ("Some Other Dataset", []),
        ("GTEx Analysis V8", fs_rows),
    ]
    return spark.createDataFrame(data, schema)


def test_document_reference_gtex_golden(spark, filelist_df, tmp_path):
    from fhir_etl_spark.operators.fhirize_gtex import fhirize_document_reference_gtex
    from fhir_etl_spark.pipelines.gtex import explode_filelist
    from fhir_etl_spark.sinks.ndjson import write_ndjson

    files = explode_filelist(filelist_df)
    write_ndjson(
        fhirize_document_reference_gtex(files), str(tmp_path), "DocumentReference"
    )
    _assert_matches(
        f"{tmp_path}/DocumentReference.ndjson", load_golden("DocumentReference")
    )


def test_group_gtex_envelope_golden(spark, tmp_path):
    """Member aliquot IDs can't be reconstructed from minted UUIDs; compare
    the envelope and member-entry SHAPE, and the golden member count."""
    from fhir_etl_spark.operators.fhirize_gtex import group_gtex
    from fhir_etl_spark.sinks.ndjson import write_ndjson

    members = spark.createDataFrame([("u1",), ("u2",)], "specimen_id string")
    write_ndjson(group_gtex(members), str(tmp_path), "Group")
    mine = json.loads(open(f"{tmp_path}/Group.ndjson").read())
    golden = list(load_golden("Group").values())[0]
    assert len(golden["member"]) == 43559  # README.md:38
    mine_member = mine.pop("member")
    golden.pop("member")
    assert mine_member == [
        {"entity": {"reference": "Specimen/u1"}},
        {"entity": {"reference": "Specimen/u2"}},
    ]
    assert mine == golden


def test_specimen_gtex_structure(spark, tmp_path):
    """Structural check (golden Specimen stripped upstream): NA dataType →
    literal 'None' coding; subject references the minted Patient id."""
    from fhir_etl_spark.operators.fhirize_gtex import fhirize_specimen_gtex, gtex_mint_const
    from fhir_etl_spark.sinks.ndjson import write_ndjson

    samples = spark.createDataFrame(
        [("SM-1", "GTEX-A", "RNASEQ", "Fresh Frozen"), ("SM-2", "GTEX-A", None, "OCT")],
        "aliquotId string, subjectId string, dataType string, freezeType string",
    )
    write_ndjson(fhirize_specimen_gtex(samples), str(tmp_path), "Specimen")
    with open(f"{tmp_path}/Specimen.ndjson") as f:
        rows = {json.loads(l)["identifier"][0]["value"]: json.loads(l) for l in f}
    assert rows["SM-2"]["type"]["coding"][0]["code"] == "None"
    assert rows["SM-1"]["id"] == gtex_mint_const("Specimen", "SM-1")
    assert rows["SM-1"]["subject"]["reference"] == (
        "Patient/" + gtex_mint_const("Patient", "GTEX-A")
    )
    assert rows["SM-1"]["collection"]["method"]["coding"][0]["code"] == "Fresh Frozen"


def test_gtex_group_members_join(spark):
    """J3: suffix-normalized semi join (gtex_fhirizer.py:87-105)."""
    from fhir_etl_spark.operators.fhirize_gtex import gtex_mint_const
    from fhir_etl_spark.pipelines.gtex import gtex_group_members

    samples = spark.createDataFrame(
        [("SM-AAA",), ("SM-BBB",), ("SM-ZZZ",)], "aliquotId string"
    )
    annotations = spark.createDataFrame(
        [("GTEX-1-0003-SM-AAA",), ("GTEX-2-0003-SM-BBB",), ("GTEX-3-0003-SM-CCC",)],
        "SAMPID string",
    )
    got = sorted(
        r["specimen_id"] for r in gtex_group_members(samples, annotations).collect()
    )
    assert got == sorted(
        [gtex_mint_const("Specimen", "SM-AAA"), gtex_mint_const("Specimen", "SM-BBB")]
    )