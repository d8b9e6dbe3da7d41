"""F1 uuid5 bit-parity (SURVEY.md §7 hard part #1) — SQL path vs pandas_udf
path vs CPython, plus the frozen golden IDs."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from fhir_etl_spark.functions.identity import (
    fhir_uuid5,
    fhir_uuid5_udf,
    namespace_for_site,
)
from fhir_etl_spark.operators.fhirize import ONEKG_STUDY_ID, onekg_mint, onekg_mint_const
from fhir_etl_spark.schemas import systems as S

GOLDEN_1KG_STUDY_ID = "4502d1f5-5275-5be7-9942-21f7fb8a6f70"
GOLDEN_GTEX_STUDY_ID = "262baf63-be05-5a41-8a2d-6c73346032c2"
GOLDEN_1KG_GROUP_ID = "43140b49-1fa8-522e-85d3-1724b1ac2898"


def test_golden_study_ids_const():
    assert ONEKG_STUDY_ID == GOLDEN_1KG_STUDY_ID
    assert onekg_mint_const("Group", S.ONEKG_HEADER_URL) == GOLDEN_1KG_GROUP_ID


def test_gtex_namespace_chain():
    ns = namespace_for_site(S.GTEX_SITE)
    # GTEx study id composition (gtex_fhirizer.py:332-334): system =
    # 'https://' + GTEX_SITE + 'downloads/adult-gtex/metadata', value GTEX_V10
    name = (
        "GTEX/ResearchStudy/"
        f"https://{S.GTEX_SITE}downloads/adult-gtex/metadata|GTEX_V10"
    )
    assert str(uuid.uuid5(ns, name)) == GOLDEN_GTEX_STUDY_ID


@pytest.mark.parametrize("site", [S.THOUSAND_GENOMES_SITE, S.GTEX_SITE])
def test_sql_udf_cpython_tripartite(spark, site):
    ns = namespace_for_site(site)
    names = [
        "",
        "plain",
        "with|pipe/and/slash",
        "unicode: söme ünïcode ✓",
        "1KG/Specimen/https://https://x|HG00096",
        "a" * 500,
    ]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    rows = df.select(
        "name",
        fhir_uuid5(ns, "name").alias("sql_path"),
        fhir_uuid5_udf(ns)("name").alias("udf_path"),
    ).collect()
    for r in rows:
        expected = str(uuid.uuid5(ns, r["name"]))
        assert r["sql_path"] == expected
        assert r["udf_path"] == expected


def test_mint_id_composition(spark):
    df = spark.createDataFrame([("HG00096",)], "sample string")
    minted = df.select(onekg_mint("Patient", F.col("sample")).alias("id")).first()["id"]
    ns = namespace_for_site(S.THOUSAND_GENOMES_SITE)
    assert minted == str(
        uuid.uuid5(ns, f"1KG/Patient/{S.ONEKG_MINT_SYSTEM}|HG00096")
    )
    # golden Patient id for HG00096 (first line of golden Patient.ndjson)
    assert minted == "fb96f2a9-8ec2-5784-ba62-16f168155434"