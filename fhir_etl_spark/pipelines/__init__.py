"""Cohort pipelines: thin compositions of sources → fhirize → joins →
sinks. Each stage communicates through the filesystem (the reference's
restartable file-handoff design, SURVEY.md §3.1) so every stage is
independently re-runnable."""

from __future__ import annotations

from pyspark.sql import DataFrame

from fhir_etl_spark.operators.fhirize import group_membership_table


def write_group_membership(members: DataFrame, group_id: str, meta_dir: str) -> None:
    """Scale mode's Group membership (SURVEY §4.4): one ``(group_id,
    member_ref)`` row per member, written as
    ``{meta_dir}/group_membership.parquet`` beside the Group shell."""
    group_membership_table(members, group_id).write.mode("overwrite").parquet(
        f"{meta_dir}/group_membership.parquet"
    )
