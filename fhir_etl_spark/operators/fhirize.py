"""Fhirize projections (SURVEY.md §2.2 P1) — the reference's core operator,
re-expressed as pure Catalyst ``select``s.

Each ``convert_to_fhir_*`` row-loop in the reference
(oneKg_fhirizer.py:64-213, iterrows at :243-246) becomes ONE projection of
nested struct/array expressions over the whole DataFrame: same cardinality,
deterministic per row, zero Python per row, whole-stage-codegen'd. IDs are
minted with the uuid5 column expression (functions/identity.py) instead of
re-instantiating an IDHelper per row per function.

Conditional fields (P2) are `when(cond, value)` — null otherwise — and the
NDJSON sink's null-dropping plus the prune operator reproduce the
reference's ``remove_empty_dicts`` semantics (utils.py:138-161).
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fhir_etl_spark.functions.identity import fhir_uuid5, namespace_for_site
from fhir_etl_spark.functions.strings import get_chromosome, get_data_format, get_mime_type
from fhir_etl_spark.schemas import systems as S

# ---------------------------------------------------------------------------
# Small struct builders (shared shapes)
# ---------------------------------------------------------------------------


def identifier_struct(value: Column, system: str, use: str | None = "official") -> Column:
    fields = []
    if use is not None:
        fields.append(F.lit(use).alias("use"))
    fields.extend([F.lit(system).alias("system"), value.alias("value")])
    return F.struct(*fields)


def coding(system: str, code: Column, display: Column) -> Column:
    return F.struct(
        F.lit(system).alias("system"), code.alias("code"), display.alias("display")
    )


def codeable_concept(*codings: Column) -> Column:
    return F.struct(F.array(*codings).alias("coding"))


def ext_value_string(url: str, value: Column) -> Column:
    """Extension carrying valueString (valueReference branch nulled)."""
    return F.struct(
        F.lit(url).alias("url"),
        value.alias("valueString"),
        F.lit(None).cast("struct<reference:string>").alias("valueReference"),
    )


def ext_value_reference(url: str, reference: Column) -> Column:
    """Extension carrying valueReference (valueString branch nulled)."""
    return F.struct(
        F.lit(url).alias("url"),
        F.lit(None).cast("string").alias("valueString"),
        F.struct(reference.alias("reference")).alias("valueReference"),
    )


def compact(*items: Column) -> Column:
    """Array of the non-null items (P2 conditional inclusion)."""
    return F.filter(F.array(*items), lambda x: x.isNotNull())


def reference_struct(resource_type: str, id_col: Column) -> Column:
    return F.struct(F.concat(F.lit(resource_type + "/"), id_col).alias("reference"))


# ---------------------------------------------------------------------------
# 1KG identity helpers
# ---------------------------------------------------------------------------

_ONEKG_NS = namespace_for_site(S.THOUSAND_GENOMES_SITE)


def onekg_mint(resource_type: str, value: Column) -> Column:
    """Column-expression mint: uuid5(ns, '1KG/{Type}/{mint_system}|{value}')
    (reference utils.py:44-55 with the doubled-scheme system)."""
    name = F.concat(
        F.lit(f"{S.ONEKG_PROJECT}/{resource_type}/{S.ONEKG_MINT_SYSTEM}|"), value
    )
    return fhir_uuid5(_ONEKG_NS, name)


def onekg_mint_const(resource_type: str, value: str) -> str:
    """Driver-side mint for plan-time constants (e.g. the study id)."""
    return str(
        uuid.uuid5(
            _ONEKG_NS, f"{S.ONEKG_PROJECT}/{resource_type}/{S.ONEKG_MINT_SYSTEM}|{value}"
        )
    )


ONEKG_STUDY_ID = onekg_mint_const("ResearchStudy", "1KG")


def part_of_study_ext(study_id: str = ONEKG_STUDY_ID) -> Column:
    return ext_value_reference(
        S.PART_OF_STUDY_URL, F.lit(f"ResearchStudy/{study_id}")
    )


# ---------------------------------------------------------------------------
# 1KG fhirize projections (reference oneKg_fhirizer.py)
# ---------------------------------------------------------------------------


def fhirize_patient_1kg(sample_info: DataFrame) -> DataFrame:
    """Patient from 1KG sample_info (reference convert_to_fhir_subject,
    oneKg_fhirizer.py:64-108). Struct field order mirrors the golden output."""
    sample = F.col("Sample").cast("string")
    return sample_info.select(
        F.struct(
            F.lit("Patient").alias("resourceType"),
            onekg_mint("Patient", sample).alias("id"),
            F.struct(F.array(F.lit(S.NCPI_PARTICIPANT_PROFILE)).alias("profile")).alias(
                "meta"
            ),
            compact(
                F.when(
                    F.col("Gender").isNotNull(),
                    ext_value_string(S.US_CORE_SEX_URL, F.col("Gender")),
                ),
                F.when(
                    F.col("Population Description").isNotNull(),
                    ext_value_string(S.US_CORE_RACE_URL, F.col("Population Description")),
                ),
                F.when(
                    F.col("Population").isNotNull(),
                    ext_value_string(S.RESEARCH_POPULATION_URL, F.col("Population")),
                ),
                part_of_study_ext(),
            ).alias("extension"),
            F.array(
                identifier_struct(F.col("Sample"), S.ONEKG_PATIENT_DISPLAY_SYSTEM)
            ).alias("identifier"),
        ).alias("resource")
    )


def fhirize_research_subject_1kg(sample_info: DataFrame) -> DataFrame:
    """ResearchSubject (reference convert_to_fhir_researchsubject,
    oneKg_fhirizer.py:110-135)."""
    sample = F.col("Sample").cast("string")
    return sample_info.select(
        F.struct(
            F.lit("ResearchSubject").alias("resourceType"),
            onekg_mint("ResearchSubject", sample).alias("id"),
            F.array(part_of_study_ext()).alias("extension"),
            F.array(identifier_struct(F.col("Sample"), S.ONEKG_DISPLAY_SYSTEM)).alias(
                "identifier"
            ),
            F.lit("on-study").alias("status"),
            F.struct(
                F.lit(f"ResearchStudy/{ONEKG_STUDY_ID}").alias("reference")
            ).alias("study"),
            reference_struct("Patient", onekg_mint("Patient", sample)).alias("subject"),
        ).alias("resource")
    )


def fhirize_specimen_1kg(sample_info: DataFrame) -> DataFrame:
    """Specimen (reference convert_to_fhir_specimen, oneKg_fhirizer.py:137-213).

    Quirks preserved: type.coding.code falls back to 'Whole blood' when the
    DNA source is NA; display is 'Lymphoblastoid Cell Line' only for
    exactly 'LCL'; collection.method code/display fall back to
    'Not specified' when the platform is NA.
    """
    sample = F.col("Sample").cast("string")
    dna_source = F.col("DNA Source from Coriell")
    platform = F.col("Main project LC platform")
    return sample_info.select(
        F.struct(
            F.lit("Specimen").alias("resourceType"),
            onekg_mint("Specimen", sample).alias("id"),
            F.struct(F.array(F.lit(S.NCPI_SAMPLE_PROFILE)).alias("profile")).alias("meta"),
            F.array(part_of_study_ext()).alias("extension"),
            F.array(identifier_struct(F.col("Sample"), S.ONEKG_DISPLAY_SYSTEM)).alias(
                "identifier"
            ),
            codeable_concept(
                coding(
                    S.SPECIMEN_TYPE_SYSTEM,
                    F.coalesce(dna_source, F.lit("Whole blood")),
                    F.when(dna_source == "LCL", "Lymphoblastoid Cell Line").otherwise(
                        "Whole blood"
                    ),
                )
            ).alias("type"),
            reference_struct("Patient", onekg_mint("Patient", sample)).alias("subject"),
            F.struct(
                codeable_concept(
                    coding(
                        S.COLLECTION_METHOD_SYSTEM,
                        F.coalesce(platform, F.lit("Not specified")),
                        F.coalesce(platform, F.lit("Not specified")),
                    )
                ).alias("method")
            ).alias("collection"),
        ).alias("resource")
    )


def research_study_1kg(spark) -> DataFrame:
    """The singleton ResearchStudy (reference oneKg_fhirizer.py:219-236)."""
    row = spark.range(1)
    return row.select(
        F.struct(
            F.lit("ResearchStudy").alias("resourceType"),
            F.lit(ONEKG_STUDY_ID).alias("id"),
            F.array(part_of_study_ext()).alias("extension"),
            F.array(
                identifier_struct(F.lit("1KG"), S.ONEKG_MINT_SYSTEM, use=None)
            ).alias("identifier"),
            F.lit(S.ONEKG_STUDY_TITLE).alias("title"),
            F.lit("active").alias("status"),
        ).alias("resource")
    )


def fhirize_document_reference_1kg(files: DataFrame) -> DataFrame:
    """DocumentReference from the FTP listing table {file, size, last_modified}
    (reference create_document_reference, document_references.py:31-114).

    The subject (Group reference) is stamped afterwards by
    :func:`stamp_subject` — the reference mutates doc_refs in a loop
    (document_references.py:240-241); here it is a column overwrite.

    Quirks preserved: minted id hashes the FTP *directory* as system while
    the display identifier shows the https base URL; attachment.url is the
    directory base (no filename); title gets a 'file:///' prefix; size
    omitted when 0; category present only when a chromosome parses out of
    the filename; date = last_modified + 'Z' (pydantic normalizes the
    reference's '+00:00' to 'Z').
    """
    fname = F.col("file")
    data_format = get_data_format(fname)
    chromosome = get_chromosome(fname)
    mint_name = F.concat(
        F.lit(f"{S.ONEKG_PROJECT}/DocumentReference/{S.ONEKG_FTP_DIRECTORY}|"), fname
    )
    return files.select(
        F.struct(
            F.lit("DocumentReference").alias("resourceType"),
            fhir_uuid5(_ONEKG_NS, mint_name).alias("id"),
            F.array(part_of_study_ext()).alias("extension"),
            F.array(identifier_struct(fname, S.ONEKG_VCF_BASE_URL)).alias("identifier"),
            F.lit("1").alias("version"),
            F.lit("current").alias("status"),
            codeable_concept(
                coding(S.DATA_FORMAT_SYSTEM, data_format, data_format)
            ).alias("type"),
            F.when(
                chromosome.isNotNull(),
                F.array(
                    codeable_concept(
                        coding(
                            S.CHROMOSOME_SYSTEM,
                            chromosome,
                            F.concat(F.lit("Chromosome "), chromosome),
                        )
                    )
                ),
            ).alias("category"),
            F.lit(None).cast("struct<reference:string>").alias("subject"),
            F.concat(F.col("last_modified"), F.lit("Z")).alias("date"),
            F.array(
                F.struct(
                    F.struct(
                        get_mime_type(fname).alias("contentType"),
                        F.lit(S.ONEKG_VCF_BASE_URL).alias("url"),
                        F.when(F.col("size") > 0, F.col("size")).alias("size"),
                        F.concat(F.lit("file:///"), fname).alias("title"),
                    ).alias("attachment"),
                    F.array(
                        F.struct(
                            coding(S.DATA_FORMAT_SYSTEM, data_format, data_format).alias(
                                "valueCoding"
                            )
                        )
                    ).alias("profile"),
                )
            ).alias("content"),
        ).alias("resource")
    )


def stamp_subject(resources: DataFrame, resource_type: str, target_id: str) -> DataFrame:
    """J4 broadcast-scalar enrichment: overwrite resource.subject with a
    constant reference (document_references.py:240-241)."""
    return resources.withColumn(
        "resource",
        F.col("resource").withField(
            "subject",
            F.struct(F.lit(f"{resource_type}/{target_id}").alias("reference")),
        ),
    )


def _group_resource(
    member_specimen_ids: DataFrame,
    group_id: str,
    study_ext: Column,
    identifier: Column,
) -> DataFrame:
    """The Group resource both cohorts emit (reference
    document_references.py:218-238, gtex_fhirizer.py:377-395) from a
    DataFrame of matched specimen ids (one column ``specimen_id``).

    ``member`` is ``[{entity: {reference}}]``, sort_array'd so member order
    is deterministic (the reference's order is Python set-iteration order —
    comparison must be order-insensitive anyway, SURVEY.md §5.1)."""
    reference = F.concat(F.lit("Specimen/"), F.col("specimen_id"))
    members = member_specimen_ids.agg(
        F.sort_array(
            F.collect_list(F.struct(F.struct(reference.alias("reference")).alias("entity")))
        ).alias("member")
    )
    return members.select(
        F.struct(
            F.lit("Group").alias("resourceType"),
            F.lit(group_id).alias("id"),
            F.array(study_ext).alias("extension"),
            F.array(identifier).alias("identifier"),
            F.lit("specimen").alias("type"),
            F.lit("definitional").alias("membership"),
            F.col("member"),
        ).alias("resource")
    )


def group_1kg(
    member_specimen_ids: DataFrame,
    group_value: str = S.ONEKG_HEADER_URL,
) -> DataFrame:
    """The 1KG Group (reference document_references.py:218-238): id minted
    from the VCF header URL; see :func:`_group_resource`."""
    return _group_resource(
        member_specimen_ids,
        onekg_mint_const("Group", group_value),
        part_of_study_ext(),
        identifier_struct(F.lit(group_value), S.ONEKG_MINT_SYSTEM, use=None),
    )
