"""Group-membership joins (SURVEY.md §2.3 J1-J3, §3.1 steps 4-7).

The reference computes Group members with Python set algebra over id
columns (document_references.py:207-216); here the same semantics are
semi/anti joins with the small side broadcast — ID sets are KBs-to-MBs
even at full scale, so the join never shuffles the big side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fhir_etl_spark.sinks.ndjson import read_ndjson


def vcf_header_sample_ids(spark: SparkSession, header_path: str) -> DataFrame:
    """S6: sample IDs from a VCF header file → one-column DataFrame
    ``sample_id`` (reference document_references.py:162-181: find the
    '#CHROM' line, split on tab, keep columns 10+; hard error when absent)."""
    lines = spark.read.text(header_path)
    chrom = lines.filter(F.col("value").startswith("#CHROM"))
    if chrom.isEmpty():
        raise ValueError("Could not find the '#CHROM' header line in the header file.")
    cols = chrom.select(F.split(F.trim(F.col("value")), "\t").alias("cols"))
    if cols.select(F.size("cols").alias("n")).first()["n"] <= 9:
        raise ValueError("Expected sample IDs after the first 9 columns, but found none.")
    return cols.select(
        F.explode(F.slice(F.col("cols"), 10, F.size("cols") - 9)).alias("sample_id")
    )


def specimen_identifier_values(
    spark: SparkSession, specimen_ndjson_path: str, system: str
) -> DataFrame:
    """S7: read back Specimen.ndjson, extract identifier values where
    identifier.system matches (reference document_references.py:189-205)."""
    schema = (
        "id string, identifier array<struct<use:string,system:string,value:string>>"
    )
    specimens = read_ndjson(spark, specimen_ndjson_path, schema=schema)
    return (
        specimens.select(F.explode("identifier").alias("ident"))
        .filter(F.col("ident.system") == system)
        .select(F.col("ident.value").alias("sample_id"))
        .filter(F.col("sample_id").isNotNull())
        .distinct()
    )


def membership_split(
    header_ids: DataFrame, specimen_ids: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(found, missing): J1 semi join and J2 anti join of header sample IDs
    against specimen identifier values (document_references.py:209-216)."""
    header = header_ids.select("sample_id").distinct()
    spec = F.broadcast(specimen_ids.select("sample_id").distinct())
    found = header.join(spec, "sample_id", "left_semi")
    missing = header.join(spec, "sample_id", "left_anti")
    return found, missing
