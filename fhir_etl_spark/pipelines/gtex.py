"""The GTEx pipeline (reference gtex_fhirizer.transform_gtex,
gtex_fhirizer.py:315-423) as a Spark composition over staged sources.

The reference's nested iterrows over filesets × files (the author-flagged
"performance black hole", gtex_fhirizer.py:403) is two `explode`s here
(N5 ×2); the annotations-TSV ∩ API-samples membership (J3) is a key-
normalized broadcast semi join instead of Python set algebra.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fhir_etl_spark.functions.strings import suffix_key
from fhir_etl_spark.operators.fhirize_gtex import (
    fhirize_document_reference_gtex,
    fhirize_patient_gtex,
    fhirize_research_subject_gtex,
    fhirize_specimen_gtex,
    group_gtex,
    gtex_mint,
    research_study_gtex,
)
from fhir_etl_spark.pipelines import run_concurrently
from fhir_etl_spark.sinks.ndjson import write_ndjson


def explode_filelist(filelist: DataFrame) -> DataFrame:
    """S4 + P7 + N5×2: fileList dataset rows → one row per leaf file.

    - filter to the 'GTEx Analysis V8' dataset row (P4)
    - explode `filesets` with position; drop position 0 — the protected/raw
      fileset (the reference's positional `.drop([0])`, gtex_fhirizer.py:83;
      order is the array order, which IS the JSON document order, so
      posexplode gives it a stable meaning)
    - explode `files` to leaves, carrying fileset name/subpath alongside
    """
    return (
        filelist.filter(F.col("name") == "GTEx Analysis V8")
        .select(F.posexplode("filesets").alias("pos", "fs"))
        .filter(F.col("pos") > 0)
        .select(
            F.col("fs.name").alias("fileset_name"),
            F.col("fs.subpath").alias("subpath"),
            F.explode("fs.files").alias("f"),
        )
        .select(
            "fileset_name",
            "subpath",
            F.col("f.name").alias("name"),
            F.col("f.release").alias("release"),
            F.col("f.type").alias("type"),
            F.col("f.size").alias("size"),
        )
    )


def gtex_group_members(samples: DataFrame, annotations: DataFrame) -> DataFrame:
    """J3: suffix-normalized SAMPID ∩ sample aliquotIds → minted Specimen ids
    (reference group_identifier, gtex_fhirizer.py:87-105).

    Both sides reduce to distinct aliquot-shaped keys before a broadcast
    semi join — the annotation table is wide (dozens of columns) but only
    SAMPID survives the scan (column pruning)."""
    normalized = annotations.select(suffix_key(F.col("SAMPID")).alias("aliquot_key")).distinct()
    api_ids = samples.select(F.col("aliquotId").alias("aliquot_key")).distinct()
    matched = api_ids.join(F.broadcast(normalized), "aliquot_key", "left_semi")
    return matched.select(
        gtex_mint("Specimen", F.col("aliquot_key")).alias("specimen_id")
    )


def transform_gtex(
    spark: SparkSession,
    subjects: DataFrame,
    samples: DataFrame,
    filelist: DataFrame,
    annotations: DataFrame,
    meta_dir: str,
) -> dict[str, str]:
    """Full GTEx transform over staged inputs:

    - subjects / samples: the paginated REST payloads (S3), staged
    - filelist: the nested fileList payload (S4), staged
    - annotations: the SampleAttributesDS TSV (S2), staged

    The six files are written concurrently. Each REST source feeds two of
    them (subjects: Patient and ResearchSubject; samples: Specimen and the
    Group membership), so both are cached for the call. The cache is filled
    once even under concurrent writes: the first task to compute a cached
    partition holds its block's write lock, and a concurrent task that needs
    the same partition waits for it and reads the cached block, so each
    page is still fetched once. Both are unpersisted before returning.
    """
    subjects, samples = subjects.cache(), samples.cache()
    try:
        files = explode_filelist(filelist)
        members = gtex_group_members(samples, annotations)
        outputs = {
            "Patient": fhirize_patient_gtex(subjects),
            "ResearchSubject": fhirize_research_subject_gtex(subjects),
            "Specimen": fhirize_specimen_gtex(samples),
            "DocumentReference": fhirize_document_reference_gtex(files),
            "ResearchStudy": research_study_gtex(spark),
            "Group": group_gtex(members),
        }
        return run_concurrently(spark, {
            rtype: functools.partial(write_ndjson, df, meta_dir, rtype)
            for rtype, df in outputs.items()
        })
    finally:
        subjects.unpersist()
        samples.unpersist()
