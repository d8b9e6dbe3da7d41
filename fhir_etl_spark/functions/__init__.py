"""Column-expression library: the reference's scalar functions re-expressed
as pure Catalyst expressions (plus the uuid5 identity pandas_udf, the one
place Python is genuinely required for bit-parity).
"""

from fhir_etl_spark.functions.identity import fhir_uuid5  # noqa: F401
from fhir_etl_spark.functions.strings import (  # noqa: F401
    age_bracket_to_birth_year_range,
    get_chromosome,
    get_data_format,
    get_mime_type,
    suffix_key,
)
from fhir_etl_spark.functions.temporal import parse_mdtm  # noqa: F401
