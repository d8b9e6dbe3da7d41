"""Output (FHIR R5) StructTypes for the six supported resource types —
the fixed, externally-governed schemas (SURVEY.md §1.3 rule 2). The
fhirize projections BUILD these shapes, so a round-trip through from_json
with these schemas is a structural-validity check
(operators/validate.structural_roundtrip, the tests' shape oracle)."""

from __future__ import annotations

from pyspark.sql import types as T


def _identifier() -> T.ArrayType:
    return T.ArrayType(
        T.StructType(
            [
                T.StructField("use", T.StringType()),
                T.StructField("system", T.StringType()),
                T.StructField("value", T.StringType()),
            ]
        )
    )


def _extension() -> T.ArrayType:
    return T.ArrayType(
        T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("valueString", T.StringType()),
                T.StructField(
                    "valueReference",
                    T.StructType([T.StructField("reference", T.StringType())]),
                ),
            ]
        )
    )


def _meta() -> T.StructType:
    return T.StructType([T.StructField("profile", T.ArrayType(T.StringType()))])


def _codeable_concept() -> T.StructType:
    return T.StructType(
        [
            T.StructField(
                "coding",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("system", T.StringType()),
                            T.StructField("code", T.StringType()),
                            T.StructField("display", T.StringType()),
                        ]
                    )
                ),
            )
        ]
    )


def _reference() -> T.StructType:
    return T.StructType([T.StructField("reference", T.StringType())])


def _base_fields() -> list[T.StructField]:
    return [
        T.StructField("resourceType", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("meta", _meta()),
        T.StructField("extension", _extension()),
        T.StructField("identifier", _identifier()),
    ]


PATIENT = T.StructType(_base_fields() + [T.StructField("deceasedBoolean", T.BooleanType())])

RESEARCH_SUBJECT = T.StructType(
    _base_fields()
    + [
        T.StructField("status", T.StringType()),
        T.StructField("study", _reference()),
        T.StructField("subject", _reference()),
    ]
)

SPECIMEN = T.StructType(
    _base_fields()
    + [
        T.StructField("type", _codeable_concept()),
        T.StructField("subject", _reference()),
        T.StructField(
            "collection", T.StructType([T.StructField("method", _codeable_concept())])
        ),
    ]
)

RESEARCH_STUDY = T.StructType(
    _base_fields()
    + [T.StructField("title", T.StringType()), T.StructField("status", T.StringType())]
)

GROUP = T.StructType(
    _base_fields()
    + [
        T.StructField("type", T.StringType()),
        T.StructField("membership", T.StringType()),
        T.StructField(
            "member",
            T.ArrayType(
                T.StructType(
                    [T.StructField("entity", _reference())]
                )
            ),
        ),
    ]
)

DOCUMENT_REFERENCE = T.StructType(
    _base_fields()
    + [
        T.StructField("version", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("type", _codeable_concept()),
        T.StructField("category", T.ArrayType(_codeable_concept())),
        T.StructField("subject", _reference()),
        T.StructField("date", T.StringType()),
        T.StructField(
            "content",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "attachment",
                            T.StructType(
                                [
                                    T.StructField("contentType", T.StringType()),
                                    T.StructField("url", T.StringType()),
                                    T.StructField("size", T.LongType()),
                                    T.StructField("title", T.StringType()),
                                ]
                            ),
                        ),
                        T.StructField(
                            "profile",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField(
                                            "valueCoding",
                                            T.StructType(
                                                [
                                                    T.StructField("system", T.StringType()),
                                                    T.StructField("code", T.StringType()),
                                                    T.StructField("display", T.StringType()),
                                                ]
                                            ),
                                        )
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

RESOURCE_SCHEMAS: dict[str, T.StructType] = {
    "Patient": PATIENT,
    "ResearchSubject": RESEARCH_SUBJECT,
    "Specimen": SPECIMEN,
    "ResearchStudy": RESEARCH_STUDY,
    "Group": GROUP,
    "DocumentReference": DOCUMENT_REFERENCE,
}
