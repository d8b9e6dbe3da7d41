"""GTEx fhirize projections (reference gtex_fhirizer.py:121-313) — the same
P1 pattern as the 1KG module: one declarative select per resource type.

The reference's nested double-iterrows over filesets × files
(gtex_fhirizer.py:402-408, the author-flagged "performance black hole") is
here two `explode`s in fhirize_document_reference_gtex's input preparation
(pipelines/gtex.py) — the flagship demonstration of the engine.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fhir_etl_spark.functions.identity import fhir_uuid5, namespace_for_site
from fhir_etl_spark.functions.strings import age_bracket_to_birth_year_range, get_mime_type
from fhir_etl_spark.operators.fhirize import (
    _group_resource,
    codeable_concept,
    coding,
    compact,
    ext_value_reference,
    ext_value_string,
    identifier_struct,
    reference_struct,
)
from fhir_etl_spark.schemas import systems as S

_GTEX_NS = namespace_for_site(S.GTEX_SITE)


def gtex_mint(resource_type: str, value: Column) -> Column:
    name = F.concat(
        F.lit(f"{S.GTEX_PROJECT}/{resource_type}/{S.GTEX_METADATA_SYSTEM}|"), value
    )
    return fhir_uuid5(_GTEX_NS, name)


def gtex_mint_const(resource_type: str, value: str) -> str:
    return str(
        uuid.uuid5(
            _GTEX_NS,
            f"{S.GTEX_PROJECT}/{resource_type}/{S.GTEX_METADATA_SYSTEM}|{value}",
        )
    )


GTEX_STUDY_ID = gtex_mint_const("ResearchStudy", S.GTEX_STUDY_VALUE)
GTEX_GROUP_ID = gtex_mint_const("Group", S.GTEX_STUDY_VALUE)


def part_of_study_ext_gtex() -> Column:
    return ext_value_reference(S.PART_OF_STUDY_URL, F.lit(f"ResearchStudy/{GTEX_STUDY_ID}"))


def fhirize_patient_gtex(subjects: DataFrame) -> DataFrame:
    """Patient from GTEx subject rows (gtex_fhirizer.py:121-165).

    hardyScale null ⇒ alive ⇒ age extension (birth-year range, frozen 2025);
    hardyScale present ⇒ deceased ⇒ condition-dueto extension.
    deceasedBoolean is ALWAYS present (False survives pruning, like the
    reference's remove_empty_dicts keeping False == 0)."""
    subject_id = F.col("subjectId").cast("string")
    hardy = F.col("hardyScale")
    return subjects.select(
        F.struct(
            F.lit("Patient").alias("resourceType"),
            gtex_mint("Patient", subject_id).alias("id"),
            F.struct(F.array(F.lit(S.NCPI_PARTICIPANT_PROFILE)).alias("profile")).alias(
                "meta"
            ),
            compact(
                F.when(
                    F.col("sex").isNotNull(),
                    ext_value_string(S.US_CORE_SEX_URL, F.col("sex")),
                ),
                F.when(
                    hardy.isNull(),
                    ext_value_string(
                        S.PATIENT_AGE_URL,
                        age_bracket_to_birth_year_range(F.col("ageBracket")),
                    ),
                ),
                F.when(
                    hardy.isNotNull(), ext_value_string(S.CONDITION_DUETO_URL, hardy)
                ),
                part_of_study_ext_gtex(),
            ).alias("extension"),
            F.array(identifier_struct(F.col("subjectId"), S.GTEX_METADATA_SYSTEM)).alias(
                "identifier"
            ),
            hardy.isNotNull().alias("deceasedBoolean"),
        ).alias("resource")
    )


def fhirize_research_subject_gtex(subjects: DataFrame) -> DataFrame:
    """ResearchSubject (gtex_fhirizer.py:167-192)."""
    subject_id = F.col("subjectId").cast("string")
    return subjects.select(
        F.struct(
            F.lit("ResearchSubject").alias("resourceType"),
            gtex_mint("ResearchSubject", subject_id).alias("id"),
            F.array(part_of_study_ext_gtex()).alias("extension"),
            F.array(identifier_struct(F.col("subjectId"), S.GTEX_METADATA_SYSTEM)).alias(
                "identifier"
            ),
            F.lit("on-study").alias("status"),
            F.struct(F.lit(f"ResearchStudy/{GTEX_STUDY_ID}").alias("reference")).alias(
                "study"
            ),
            reference_struct("Patient", gtex_mint("Patient", subject_id)).alias("subject"),
        ).alias("resource")
    )


def fhirize_specimen_gtex(samples: DataFrame) -> DataFrame:
    """Specimen from GTEx sample rows (gtex_fhirizer.py:194-255).

    type.coding falls back to the literal string 'None' when dataType is NA
    (the reference's `else 'None'`); collection.method uses freezeType
    unguarded."""
    aliquot = F.col("aliquotId").cast("string")
    data_type = F.coalesce(F.col("dataType"), F.lit("None"))
    return samples.select(
        F.struct(
            F.lit("Specimen").alias("resourceType"),
            gtex_mint("Specimen", aliquot).alias("id"),
            F.struct(F.array(F.lit(S.NCPI_SAMPLE_PROFILE)).alias("profile")).alias("meta"),
            F.array(part_of_study_ext_gtex()).alias("extension"),
            F.array(identifier_struct(F.col("aliquotId"), S.GTEX_METADATA_SYSTEM)).alias(
                "identifier"
            ),
            codeable_concept(
                coding(S.SPECIMEN_TYPE_SYSTEM, data_type, data_type)
            ).alias("type"),
            F.when(
                F.col("subjectId").isNotNull(),
                reference_struct(
                    "Patient", gtex_mint("Patient", F.col("subjectId").cast("string"))
                ),
            ).alias("subject"),
            F.struct(
                codeable_concept(
                    coding(S.COLLECTION_METHOD_SYSTEM, F.col("freezeType"), F.col("freezeType"))
                ).alias("method")
            ).alias("collection"),
        ).alias("resource")
    )


def research_study_gtex(spark) -> DataFrame:
    """Singleton GTEx ResearchStudy (gtex_fhirizer.py:331-347)."""
    return spark.range(1).select(
        F.struct(
            F.lit("ResearchStudy").alias("resourceType"),
            F.lit(GTEX_STUDY_ID).alias("id"),
            F.array(part_of_study_ext_gtex()).alias("extension"),
            F.array(
                identifier_struct(
                    F.lit(S.GTEX_STUDY_VALUE), S.GTEX_METADATA_SYSTEM, use=None
                )
            ).alias("identifier"),
            F.lit(S.GTEX_STUDY_TITLE).alias("title"),
            F.lit("active").alias("status"),
        ).alias("resource")
    )


def group_gtex(
    member_specimen_ids: DataFrame, include_member: bool = True
) -> DataFrame:
    """GTEx Group (gtex_fhirizer.py:377-395). Identifier system is the
    annotations file URL; id minted from the metadata system + GTEX_V10;
    see operators/fhirize._group_resource."""
    return _group_resource(
        member_specimen_ids,
        GTEX_GROUP_ID,
        part_of_study_ext_gtex(),
        identifier_struct(F.lit(S.GTEX_STUDY_VALUE), S.GTEX_ANNOTATIONS_URL, use=None),
        include_member,
    )


def fhirize_document_reference_gtex(files: DataFrame) -> DataFrame:
    """DocumentReference from exploded fileList rows (gtex_fhirizer.py:257-313).

    Input columns (produced by the pipeline's double explode): ``name``
    (file name), ``release``, ``type``, ``size`` (human-readable string),
    ``fileset_name``, ``subpath``. Subject is the GTEx Group; status is the
    frozen 'superseded' quirk; contentType default is 'Unknown' (GTEx
    variant of F5)."""
    fname = F.col("name")
    return files.select(
        F.struct(
            F.lit("DocumentReference").alias("resourceType"),
            gtex_mint("DocumentReference", fname.cast("string")).alias("id"),
            compact(
                ext_value_string(S.FILE_SIZE_URL, F.col("size")),
                part_of_study_ext_gtex(),
            ).alias("extension"),
            F.array(identifier_struct(fname, S.GTEX_METADATA_SYSTEM)).alias("identifier"),
            F.col("release").alias("version"),
            F.lit("superseded").alias("status"),
            codeable_concept(
                coding(S.GTEX_FILELIST_SYSTEM, F.col("type"), F.col("type"))
            ).alias("type"),
            F.struct(F.lit(f"Group/{GTEX_GROUP_ID}").alias("reference")).alias("subject"),
            F.array(
                F.struct(
                    F.struct(
                        get_mime_type(fname, default="Unknown").alias("contentType"),
                        F.concat(
                            F.lit(S.GTEX_STORAGE_BASE), F.col("subpath"), F.lit("/v8/")
                        ).alias("url"),
                        fname.alias("title"),
                    ).alias("attachment"),
                    F.array(
                        F.struct(
                            coding(
                                S.GTEX_OVERVIEW_SYSTEM,
                                F.col("subpath"),
                                F.col("fileset_name"),
                            ).alias("valueCoding")
                        )
                    ).alias("profile"),
                )
            ).alias("content"),
        ).alias("resource")
    )
