"""Numeric scalar functions (SURVEY.md §2.8 F9, §2.9 N3)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def coerce_numeric_or_null(col: Column | str) -> Column:
    """F9: numeric-looking string → DOUBLE, else NULL.

    Reference ``convert_value_to_float`` (utils.py:189-206) converts a
    string of float or integer syntax and passes anything else through;
    Spark columns are monotyped, so the passthrough side is NULL here.
    ASCII digits only: non-ASCII Unicode digits, which the
    reference does convert, are NULL — a documented divergence (see
    tests/test_properties.reference_coerce)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.rlike(r"^-?(\d+(\.\d*)?|\.\d+)$"), c.cast("double")
    ).otherwise(F.lit(None).cast("double"))
