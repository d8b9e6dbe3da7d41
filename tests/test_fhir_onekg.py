"""T2 golden parity (SURVEY.md §5.2): run the 1KG pipeline on inputs
reconstructed from the reference's committed golden NDJSON and require the
output to match the golden files id-for-id, JSON-deep-equal.

This pins, all at once: uuid5 bit-parity (incl. the doubled-scheme system
strings), the fhirize projections, conditional-field inclusion, empty
pruning, the semi-join membership, dedup-by-id, and the NDJSON sink.

The golden files live in the read-only reference checkout; the test skips
if that path is absent (CI elsewhere).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

GOLDEN_DIR = "/root/reference/fhir_etl/oneKgenomes/META"

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


def _ext_value(patient: dict, url: str) -> str | None:
    for ext in patient.get("extension", []):
        if ext["url"] == url:
            return ext.get("valueString")
    return None


@pytest.fixture(scope="module")
def sample_info_path(tmp_path_factory) -> str:
    """Reconstruct the sample_info TSV from golden Patient + Specimen rows
    (output fields are injective in the consumed input columns, up to
    fallback-equivalent values which serialize identically)."""
    from fhir_etl_spark.schemas import systems as S

    patients = load_golden("Patient")
    specimens = load_golden("Specimen")
    spec_by_sample = {
        s["identifier"][0]["value"]: s for s in specimens.values()
    }
    rows = []
    for p in patients.values():
        sample = p["identifier"][0]["value"]
        spec = spec_by_sample[sample]
        type_code = spec["type"]["coding"][0]["code"]
        method_code = spec["collection"]["method"]["coding"][0]["code"]
        rows.append(
            {
                "Sample": sample,
                "Gender": _ext_value(p, S.US_CORE_SEX_URL) or "",
                "Population Description": _ext_value(p, S.US_CORE_RACE_URL) or "",
                "Population": _ext_value(p, S.RESEARCH_POPULATION_URL) or "",
                # 'Whole blood' is the NA fallback; reconstructing NA yields
                # byte-identical output either way
                "DNA Source from Coriell": "" if type_code == "Whole blood" else type_code,
                "Main project LC platform": "" if method_code == "Not specified" else method_code,
                "Ignored Extra Column": "noise",  # pruned by the projection
            }
        )
    path = tmp_path_factory.mktemp("staged") / "sample_info.tsv"
    cols = list(rows[0].keys())
    with open(path, "w") as f:
        f.write("\t".join(cols) + "\n")
        for r in rows:
            f.write("\t".join(r[c] for c in cols) + "\n")
    return str(path)


@pytest.fixture(scope="module")
def meta_dir(tmp_path_factory, spark, sample_info_path) -> str:
    from fhir_etl_spark.pipelines.onekg import transform_1k

    out = str(tmp_path_factory.mktemp("meta"))
    transform_1k(spark, sample_info_path, out)
    return out


def _assert_ndjson_matches_golden(path: str, golden: dict[str, dict], list_set_fields=()):
    with open(path) as f:
        mine = {}
        for line in f:
            if line.strip():
                obj = json.loads(line)
                mine[obj["id"]] = obj
    assert set(mine) == set(golden), (
        f"id sets differ: {len(mine)} vs {len(golden)}; "
        f"sample missing: {list(set(golden) - set(mine))[:3]}; "
        f"sample extra: {list(set(mine) - set(golden))[:3]}"
    )
    for rid, obj in mine.items():
        exp = dict(golden[rid])
        act = dict(obj)
        for fname in list_set_fields:
            a = act.pop(fname, None)
            e = exp.pop(fname, None)
            assert a is not None and e is not None, f"{rid}: missing {fname}"
            assert sorted(map(json.dumps, a)) == sorted(map(json.dumps, e)), (
                f"{rid}: {fname} set mismatch"
            )
        assert act == exp, f"{rid}:\n  mine : {act}\n  golden: {exp}"


def test_patient_golden_parity(meta_dir):
    _assert_ndjson_matches_golden(f"{meta_dir}/Patient.ndjson", load_golden("Patient"))


def test_research_subject_golden_parity(meta_dir):
    _assert_ndjson_matches_golden(
        f"{meta_dir}/ResearchSubject.ndjson", load_golden("ResearchSubject")
    )


def test_specimen_golden_parity(meta_dir):
    _assert_ndjson_matches_golden(f"{meta_dir}/Specimen.ndjson", load_golden("Specimen"))


def test_research_study_golden_parity(meta_dir):
    _assert_ndjson_matches_golden(
        f"{meta_dir}/ResearchStudy.ndjson", load_golden("ResearchStudy")
    )


# ---------------------------------------------------------------------------
# Stage 2: DocumentReference + Group
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def stage2_outputs(spark, meta_dir, tmp_path_factory):
    """Reconstruct the FTP listing and VCF header from golden outputs, then
    run transform_1k_files against the stage-1 META dir."""
    from fhir_etl_spark.operators.fhirize import onekg_mint
    from fhir_etl_spark.pipelines.onekg import transform_1k_files

    docs = load_golden("DocumentReference")
    listing_rows = []
    for d in docs.values():
        att = d["content"][0]["attachment"]
        listing_rows.append(
            (
                d["identifier"][0]["value"],
                int(att.get("size", 0)),
                d["date"].rstrip("Z"),
            )
        )
    # non-vcf rows the P3 filter must drop:
    listing_rows += [("header", 123, "2014-01-01T00:00:00"), ("README.txt", 5, "2014-01-01T00:00:00")]
    listing = spark.createDataFrame(
        listing_rows, "file string, size long, last_modified string"
    )

    # header sample IDs: samples whose minted Specimen id is a golden Group
    # member, plus fakes to exercise the anti join
    group = list(load_golden("Group").values())[0]
    member_ids = {
        m["entity"]["reference"].split("/", 1)[1] for m in group["member"]
    }
    from fhir_etl_spark.operators.membership import specimen_identifier_values
    from fhir_etl_spark.schemas import systems as S

    spec_values = specimen_identifier_values(
        spark, f"{meta_dir}/Specimen.ndjson", S.ONEKG_DISPLAY_SYSTEM
    )
    matched = (
        spec_values.withColumn("sid", onekg_mint("Specimen", F.col("sample_id")))
        .filter(F.col("sid").isin(*member_ids))
        .select("sample_id")
        .collect()
    )
    header_samples = sorted(r["sample_id"] for r in matched) + ["FAKE001", "FAKE002"]
    header_path = tmp_path_factory.mktemp("staged2") / "header"
    with open(header_path, "w") as f:
        f.write("##fileformat=VCFv4.1\n")
        f.write(
            "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t"
            + "\t".join(header_samples)
            + "\n"
        )

    counts = transform_1k_files(spark, listing, str(header_path), meta_dir)
    return meta_dir, counts


def test_document_reference_golden_parity(stage2_outputs):
    meta_dir, _ = stage2_outputs
    _assert_ndjson_matches_golden(
        f"{meta_dir}/DocumentReference.ndjson", load_golden("DocumentReference")
    )


def test_group_golden_parity(stage2_outputs):
    meta_dir, counts = stage2_outputs
    _assert_ndjson_matches_golden(
        f"{meta_dir}/Group.ndjson", load_golden("Group"), list_set_fields=("member",)
    )
    golden_members = len(list(load_golden("Group").values())[0]["member"])
    assert counts["found"] == golden_members
    assert counts["missing"] == 2  # the two FAKE ids


