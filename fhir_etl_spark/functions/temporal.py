"""Temporal scalar functions (SURVEY.md §2.8 F4)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def parse_mdtm(mdtm: Column | str, fallback_to_now: bool = True) -> Column:
    """F4: FTP MDTM response ('213 20220509124500') → timestamp.

    Reference utils.py:80-88: strips the '213 ' status prefix, parses
    %Y%m%d%H%M%S, and falls back to now() on failure. ``try_to_timestamp``
    gives NULL-on-malformed (no task failure at 100 TB); the fallback is
    COALESCE(current_timestamp()) to match the reference's error default.
    """
    c = F.col(mdtm) if isinstance(mdtm, str) else mdtm
    parsed = F.try_to_timestamp(F.substring(c, 5, 14), F.lit("yyyyMMddHHmmss"))
    if fallback_to_now:
        return F.coalesce(parsed, F.current_timestamp())
    return parsed
