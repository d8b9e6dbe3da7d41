"""Deterministic UUIDv5 identity minting (SURVEY.md §2.8 F1).

Reference semantics (utils.py:29-55, duplicated oneKg_fhirizer.py:21-47 and
gtex_fhirizer.py:25-51):

    namespace = uuid3(NAMESPACE_DNS, site)          # MD5, computed once
    id        = uuid5(namespace, f"{project}/{resource_type}/{system}|{value}")

Every resource ``id`` and every cross-resource ``reference`` flows through
this function, so golden parity requires bit-for-bit agreement with
CPython's ``uuid.uuid5``. Two implementations, verified against each other
and against CPython in tests:

- :func:`fhir_uuid5` — **pure Catalyst expressions** (default): uuid5 is
  SHA-1(namespace_bytes ++ name_utf8) with the version nibble forced to 5
  and the variant bits to RFC 4122 — all expressible as sha1/substring/conv
  string surgery that stays inside whole-stage codegen. Zero Python per row.
- :func:`fhir_uuid5_udf` — Arrow-vectorized pandas_udf wrapping
  ``uuid.uuid5`` per batch; kept as an audit path and for readers who want
  the obviously-correct spelling.

The namespace uuid3 (MD5) runs once at plan-build time on the driver — the
reference re-instantiates ``IDHelper`` per row per function
(oneKg_fhirizer.py:65,111,138), recomputing the namespace millions of
times; here it is a plan-time constant.
"""

from __future__ import annotations

import uuid
from uuid import NAMESPACE_DNS, uuid3

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


def namespace_for_site(site: str) -> uuid.UUID:
    """The project namespace: uuid3 (MD5) of the site string under DNS."""
    return uuid3(NAMESPACE_DNS, site)


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def uuid_splice(h: Column, version: str) -> Column:
    """RFC 4122 byte surgery over a 32+-hex-char digest: version nibble
    (13th hex char) := ``version``; clock_seq_hi byte := (byte & 0x3F) |
    0x80; 8-4-4-4-12 hyphenation. Shared by uuid5 (sha1) and uuid3 (md5)
    minting — verified bit-identical to CPython's uuid module."""
    clock_hi = F.lower(
        F.hex((F.conv(F.substring(h, 17, 2), 16, 10).cast("int") % 64) + 128)
    )
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit(version), F.substring(h, 14, 3)),
        F.concat(clock_hi, F.substring(h, 19, 2)),
        F.substring(h, 21, 12),
    )


def fhir_uuid5(namespace: uuid.UUID | str, name: Column | str) -> Column:
    """uuid5(namespace, name) as a pure column expression.

    SHA-1 the 16 namespace bytes ++ UTF-8 name, then uuid_splice.
    Verified bit-identical to CPython uuid.uuid5.
    """
    ns = uuid.UUID(namespace) if isinstance(namespace, str) else namespace
    h = F.sha1(F.concat(F.lit(ns.bytes), F.encode(_col(name), "UTF-8")))
    return uuid_splice(h, "5")


def content_uuid3(name: Column | str) -> Column:
    """uuid3-STYLE content id straight over a string's UTF-8 bytes (no
    namespace prefix): md5 + uuid_splice with version '3'. Exists so the
    splice machinery has a cross-engine value oracle (DuckDB ships md5
    but not sha1; the namespaced sha1 path is pinned to CPython by the
    golden-ID tests instead)."""
    return uuid_splice(F.md5(F.encode(_col(name), "UTF-8")), "3")


def fhir_uuid5_udf(namespace: uuid.UUID | str):
    """Arrow-vectorized uuid5 (audit path). Returns a callable Column op."""
    ns = uuid.UUID(namespace) if isinstance(namespace, str) else namespace

    @F.pandas_udf(StringType())
    def _uuid5(names: pd.Series) -> pd.Series:
        return names.map(lambda n: None if n is None else str(uuid.uuid5(ns, n)))

    return _uuid5
