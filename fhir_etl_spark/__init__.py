"""fhir_etl_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the
FHIR-Aggregator/FHIR-ETL reference pipeline (pandas row-at-a-time ETL;
see SURVEY.md) as idiomatic, scale-first Spark:

- declarative DataFrame/SQL plans (Catalyst optimizes; we do not hand-schedule)
- columnar, codegen'd expressions instead of ``iterrows`` loops
- deterministic UUIDv5 identity minting as a vectorized Arrow pandas_udf
- nested FHIR documents as StructType columns, serialized once at the sink
- semi/anti-join group membership instead of Python set algebra
- NDJSON / parquet sinks with merge-by-id upsert semantics
- plus the large-scale training-data operators the reference lacks:
  dedup (exact/MinHash/SimHash), similarity search, text analysis,
  multimodal column plumbing, and event-time windows as batch plans.

Nothing in this package imports from, or depends on, the reference repo;
``file:line`` citations in docstrings point at the behavior being matched.
"""

__version__ = "0.1.0"

from fhir_etl_spark.session import get_spark  # noqa: F401
