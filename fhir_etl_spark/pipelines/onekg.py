"""The 1KG pipeline (reference cli.py:47-59 → oneKg_fhirizer.transform_1k +
document_references.transform_1k_files) as a ~60-line Spark composition.

Inputs are STAGED local files (the reference fetches HTTPS/FTP inline; the
engine stages sources to a bronze zone first — SURVEY.md §4.4 — which also
makes the pipeline testable offline). The staged formats match what the
reference sees on the wire: the sample_info TSV, an FTP listing table, and
the VCF header text file.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fhir_etl_spark.operators.fhirize import (
    fhirize_document_reference_1kg,
    fhirize_patient_1kg,
    fhirize_research_subject_1kg,
    fhirize_specimen_1kg,
    group_1kg,
    onekg_mint,
    onekg_mint_const,
    research_study_1kg,
    stamp_subject,
)
from fhir_etl_spark.operators.membership import (
    membership_split,
    specimen_identifier_values,
    vcf_header_sample_ids,
)
from fhir_etl_spark.pipelines import run_concurrently
from fhir_etl_spark.schemas import systems as S
from fhir_etl_spark.sinks.ndjson import write_ndjson
from fhir_etl_spark.sinks.upsert import create_or_extend


def read_sample_info(spark: SparkSession, path: str) -> DataFrame:
    """S1: the 1KG sample_info TSV (oneKg_fhirizer.py:216). Header row, tab
    separated; ~60 columns of which six are consumed — Catalyst prunes the
    rest at the scan."""
    return spark.read.option("sep", "\t").option("header", True).csv(path)


def transform_1k(spark: SparkSession, sample_info_path: str, meta_dir: str) -> dict[str, str]:
    """Stage 1 (reference transform_1k): sample_info → Patient /
    ResearchSubject / Specimen / ResearchStudy NDJSON, the four files
    written concurrently."""
    sample_info = read_sample_info(spark, sample_info_path)
    outputs = {
        "Patient": fhirize_patient_1kg(sample_info),
        "ResearchSubject": fhirize_research_subject_1kg(sample_info),
        "Specimen": fhirize_specimen_1kg(sample_info),
        "ResearchStudy": research_study_1kg(spark),
    }
    return run_concurrently(spark, {
        rtype: functools.partial(write_ndjson, df, meta_dir, rtype)
        for rtype, df in outputs.items()
    })


def transform_1k_files(
    spark: SparkSession,
    ftp_listing: DataFrame,
    header_path: str,
    meta_dir: str,
) -> dict[str, int]:
    """Stage 2 (reference transform_1k_files): FTP listing + VCF header +
    read-back of stage 1's Specimen.ndjson → DocumentReference + Group.

    ``ftp_listing`` columns: file STRING, size BIGINT, last_modified STRING
    (ISO-8601, no offset) — the staged form of the FTP NLST/SIZE/MDTM scan
    (document_references.py:125-153).

    The two upserts and the membership-count query run concurrently.
    """
    # P3 substring filter + P5 dropna (document_references.py:132-134,156)
    files = ftp_listing.filter(F.lower(F.col("file")).contains("vcf")).na.drop(
        subset=["file"]
    )

    # S6 + S7 + J1/J2 membership
    header_ids = vcf_header_sample_ids(spark, header_path)
    specimen_ids = specimen_identifier_values(
        spark, f"{meta_dir}/Specimen.ndjson", S.ONEKG_DISPLAY_SYSTEM
    )
    found, missing = membership_split(header_ids, specimen_ids)

    # Group: members are minted Specimen references of the found ids
    members = found.select(
        onekg_mint("Specimen", F.col("sample_id")).alias("specimen_id")
    )
    group_id = onekg_mint_const("Group", S.ONEKG_HEADER_URL)
    group = group_1kg(members)

    # DocumentReferences stamped with the Group subject (J4). The upsert
    # dedups by id, first wins (document_references.py:248 — {id: doc} dict
    # semantics); the plan stays narrow, so its arrival order is listing order.
    doc_refs = stamp_subject(fhirize_document_reference_1kg(files), "Group", group_id)

    # the three counts in one query
    parts = {"header_ids": header_ids, "found": found, "missing": missing}
    tagged = functools.reduce(
        DataFrame.unionAll, [df.select(F.lit(k).alias("k")) for k, df in parts.items()]
    )
    counts = tagged.agg(*[F.count_if(F.col("k") == k).alias(k) for k in parts])

    return run_concurrently(spark, {
        "DocumentReference": lambda: create_or_extend(
            spark, doc_refs, meta_dir, "DocumentReference", update_existing=False
        ),
        "Group": lambda: create_or_extend(spark, group, meta_dir, "Group", update_existing=False),
        "counts": lambda: counts.first().asDict(),
    })["counts"]
