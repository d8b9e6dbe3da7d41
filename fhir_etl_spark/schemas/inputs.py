"""Input schema registry (SURVEY.md §1.3 rule 1: input schemas are EXPLICIT
— one pass of inferSchema at 100 TB is one full extra scan).

Shapes from FIXTURES.md §1; columns limited to what the pipelines consume
plus pass-through tolerance (the real 1KG TSV has ~60 more columns — the
CSV reader keeps them as strings; Catalyst prunes them at the scan)."""

from __future__ import annotations

from pyspark.sql import types as T

# 1.4 gtex_subject (paginated REST payload)
GTEX_SUBJECT = T.StructType(
    [
        T.StructField("subjectId", T.StringType()),
        T.StructField("sex", T.StringType()),
        T.StructField("ageBracket", T.StringType()),
        T.StructField("hardyScale", T.StringType()),
    ]
)

# 1.5 gtex_sample
GTEX_SAMPLE = T.StructType(
    [
        T.StructField("aliquotId", T.StringType()),
        T.StructField("subjectId", T.StringType()),
        T.StructField("dataType", T.StringType()),
        T.StructField("freezeType", T.StringType()),
        T.StructField("tissueSiteDetailId", T.StringType()),
        T.StructField("tissueSiteDetail", T.StringType()),
    ]
)

# 1.7 gtex_filelist (nested: dataset → filesets[] → files[])
GTEX_FILELIST = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField(
            "filesets",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("subpath", T.StringType()),
                        T.StructField(
                            "files",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("name", T.StringType()),
                                        T.StructField("release", T.StringType()),
                                        T.StructField("type", T.StringType()),
                                        T.StructField("size", T.StringType()),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        ),
    ]
)
