"""Fixture-free output pins for the FHIR output path: the exact Group JSON
of both cohorts (with the member array) and the exact bytes the NDJSON sink
and both upsert modes write — the upsert's against a Python dict model of
the reference's. The golden-parity suites need the reference
checkout; these need nothing, so any refactor of the sinks or the Group
builders is checked byte-for-byte on every machine."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from fhir_etl_spark.operators.fhirize import group_1kg
from fhir_etl_spark.operators.fhirize_gtex import group_gtex
from fhir_etl_spark.sinks.ndjson import serialize, write_ndjson
from fhir_etl_spark.sinks.upsert import create_or_extend

PART_OF_STUDY = "http://fhir-aggregator.org/fhir/StructureDefinition/part-of-study"

GROUP_1KG_SHELL = {
    "resourceType": "Group",
    "id": "43140b49-1fa8-522e-85d3-1724b1ac2898",
    "extension": [
        {
            "url": PART_OF_STUDY,
            "valueReference": {
                "reference": "ResearchStudy/4502d1f5-5275-5be7-9942-21f7fb8a6f70"
            },
        }
    ],
    "identifier": [
        {
            "system": "https://https://ftp.1000genomes.ebi.ac.uk/vol1/ftp/technical/"
            "working/20130606_sample_info/",
            "value": "https://ftp.1000genomes.ebi.ac.uk/vol1/ftp/release/20130502/"
            "supporting/vcf_with_sample_level_annotation/header",
        }
    ],
    "type": "specimen",
    "membership": "definitional",
}

GROUP_GTEX_SHELL = {
    "resourceType": "Group",
    "id": "e15af919-ded6-510a-a538-1449bfb57fc4",
    "extension": [
        {
            "url": PART_OF_STUDY,
            "valueReference": {
                "reference": "ResearchStudy/262baf63-be05-5a41-8a2d-6c73346032c2"
            },
        }
    ],
    "identifier": [
        {
            "system": "https://storage.googleapis.com/adult-gtex/annotations/v10/"
            "metadata-files/GTEx_Analysis_v10_Annotations_SampleAttributesDS.txt",
            "value": "GTEX_V10",
        }
    ],
    "type": "specimen",
    "membership": "definitional",
}

# members arrive unsorted; the Group lists them sorted by reference
MEMBERS = [
    {"entity": {"reference": "Specimen/u1"}},
    {"entity": {"reference": "Specimen/u2"}},
]


def _line(obj: dict) -> str:
    return json.dumps(obj, separators=(",", ":"))


def _members(spark):
    return spark.createDataFrame([("u2",), ("u1",)], "specimen_id string")


def _group_line(df) -> str:
    rows = serialize(df).collect()
    assert len(rows) == 1
    return rows[0]["json"]


def test_group_1kg_exact_json(spark):
    members = _members(spark)
    assert _group_line(group_1kg(members)) == _line({**GROUP_1KG_SHELL, "member": MEMBERS})


def test_group_gtex_exact_json(spark):
    members = _members(spark)
    assert _group_line(group_gtex(members)) == _line({**GROUP_GTEX_SHELL, "member": MEMBERS})


def _resources(spark, rows):
    return spark.createDataFrame(rows, "id string, v string, n int").select(
        F.struct("id", "v", "n").alias("resource")
    )


def _bytes(path) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def test_write_ndjson_exact_bytes(spark, tmp_path):
    out = write_ndjson(
        _resources(spark, [("a", "1", 0), ("b", "", None), ("c", "x", 3)]),
        str(tmp_path),
        "Patient",
    )
    assert out == str(tmp_path / "Patient.ndjson")
    assert sorted(p.name for p in tmp_path.iterdir()) == ["Patient.ndjson"]
    # '' and null are pruned, 0 is kept, one line per resource
    assert _bytes(out) == (
        b'{"id":"a","v":"1","n":0}\n{"id":"b"}\n{"id":"c","v":"x","n":3}\n'
    )


def _upsert_model(existing: list[dict], new: list[dict], update_existing: bool) -> bytes:
    """The reference's create_or_extend (utils.py:101-135) as a Python dict:
    existing objects keyed by id in file order, new ones folded in — an
    existing id is overwritten only in update mode, where it keeps its
    place — and the dict written back in insertion order."""
    store = {obj["id"]: obj for obj in existing}
    for obj in new:
        if update_existing or obj["id"] not in store:
            store[obj["id"]] = obj
    return b"".join(_line(obj).encode() + b"\n" for obj in store.values())


def _obj(id_, v, n) -> dict:
    """A row of ``_resources`` as the sink writes it ('' and null pruned)."""
    return {k: x for k, x in (("id", id_), ("v", v), ("n", n)) if x not in ("", None)}


def test_create_or_extend_exact_bytes(spark, tmp_path):
    folder = str(tmp_path)
    first = [("a", "1", 0), ("b", "", None), ("c", "x", 3)]
    write_ndjson(_resources(spark, first), folder, "Patient")
    # insert-only: existing 'a' kept, first of the duplicate new 'd' wins
    batch = [("a", "2", 1), ("d", "first", 1), ("d", "second", 2)]
    out = create_or_extend(spark, _resources(spark, batch), folder, "Patient")
    assert out == str(tmp_path / "Patient.ndjson")
    expected = _upsert_model([_obj(*r) for r in first], [_obj(*r) for r in batch], False)
    assert _bytes(out) == expected == (
        b'{"id":"a","v":"1","n":0}\n{"id":"b"}\n'
        b'{"id":"c","v":"x","n":3}\n{"id":"d","v":"first","n":1}\n'
    )
    # update: new 'a' replaces the old one in place, last of the duplicate
    # new 'd' wins
    update = [("a", "3", 1), ("d", "x", 1), ("d", "y", 2)]
    create_or_extend(spark, _resources(spark, update), folder, "Patient", update_existing=True)
    previous = [json.loads(line) for line in expected.splitlines()]
    assert _bytes(out) == _upsert_model(previous, [_obj(*r) for r in update], True) == (
        b'{"id":"a","v":"3","n":1}\n{"id":"b"}\n'
        b'{"id":"c","v":"x","n":3}\n{"id":"d","v":"y","n":2}\n'
    )
    assert sorted(p.name for p in tmp_path.iterdir()) == ["Patient.ndjson"]


def test_create_or_extend_creates_missing_file_exact_bytes(spark, tmp_path):
    folder = str(tmp_path / "new")
    batch = [("b", "1", 1), ("a", "first", 1), ("a", "second", 2)]
    out = create_or_extend(spark, _resources(spark, batch), folder, "Specimen")
    assert out == f"{folder}/Specimen.ndjson"
    assert _bytes(out) == _upsert_model([], [_obj(*r) for r in batch], False) == (
        b'{"id":"b","v":"1","n":1}\n{"id":"a","v":"first","n":1}\n'
    )


def test_create_or_extend_order_col_exact_bytes(spark, tmp_path):
    """The order column decides precedence and arrival order and never
    reaches the file."""
    rows = [("a", "late", 2, 9), ("a", "early", 1, 3), ("b", "", 5, 1)]
    df = spark.createDataFrame(rows, "id string, v string, n int, arrival int").select(
        F.struct("id", "v", "n").alias("resource"), "arrival"
    )
    arrived = [_obj(*r[:3]) for r in sorted(rows, key=lambda r: r[3])]
    folder = str(tmp_path)
    out = create_or_extend(spark, df, folder, "Patient", order_col="arrival")
    inserted = _upsert_model([], arrived, False)
    assert _bytes(out) == inserted == b'{"id":"b","n":5}\n{"id":"a","v":"early","n":1}\n'
    out = create_or_extend(spark, df, folder, "Patient", update_existing=True, order_col="arrival")
    previous = [json.loads(line) for line in inserted.splitlines()]
    assert _bytes(out) == _upsert_model(previous, arrived, True) == (
        b'{"id":"b","n":5}\n{"id":"a","v":"late","n":2}\n'
    )
