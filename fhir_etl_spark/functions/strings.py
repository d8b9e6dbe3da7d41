"""String scalar functions (SURVEY.md §2.8 F2/F3/F5/F6/F7/F8).

All pure Catalyst expressions — they compile into whole-stage codegen, run
JVM-side on Tungsten rows, and constant-fold when applied to literals. No
Python executes per row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Extension → MIME type map: mimetypes.guess_type defaults plus the custom
# .vcf registration the reference performs (utils.py:24-25,90-92,
# document_references.py:19-20). guess_type first strips ENCODING suffixes
# (.gz/.Z/.bz2/.xz/.br, reported separately) then maps the remaining
# extension — so 'x.vcf.gz' → text/vcf, and a bare 'x.gz' → no type.
MIME_ENCODING_SUFFIXES = ("gz", "Z", "bz2", "xz", "br")

MIME_BY_EXTENSION: dict[str, str] = {
    "vcf": "text/vcf",
    "txt": "text/plain",
    "csv": "text/csv",
    "tsv": "text/tab-separated-values",
    "json": "application/json",
    "xml": "application/xml",
    "pdf": "application/pdf",
    "tar": "application/x-tar",
    # frozen from the reference's environment (visible in golden GTEx
    # DocumentReference contentTypes) — not Python's built-in 'application/zip'
    "zip": "application/x-zip-compressed",
    "md": "text/markdown",
    "xlsx": "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
}


def get_data_format(filename: Column | str) -> Column:
    """F2: file format from name (reference utils.py:58-68).

    Strips any trailing chain of ``.gz``/``.tbi``/``.csi`` compression/index
    extensions, then returns the last remaining extension uppercased;
    ``UNKNOWN`` when no extension remains.
    """
    col = F.col(filename) if isinstance(filename, str) else filename
    stripped = F.regexp_replace(col, r"(\.(gz|tbi|csi))+$", "")
    ext = F.regexp_extract(stripped, r"\.([^.\/]+)$", 1)
    return F.when(ext == "", F.lit("UNKNOWN")).otherwise(F.upper(ext))


def get_chromosome(filename: Column | str) -> Column:
    """F3: chromosome token from a filename (reference utils.py:71-77).

    Case-insensitive ``\\bchr([0-9XYMT]+)\\b`` → group 1 uppercased, else NULL.
    """
    col = F.col(filename) if isinstance(filename, str) else filename
    tok = F.regexp_extract(col, r"(?i)\bchr([0-9XYMT]+)\b", 1)
    return F.when(tok == "", F.lit(None).cast("string")).otherwise(F.upper(tok))


def get_mime_type(filename: Column | str, default: str = "application/octet-stream") -> Column:
    """F5: MIME type from filename extension (reference utils.py:90-92).

    The default differs per pipeline in the reference
    ('application/octet-stream' for 1KG, 'Unknown' for GTEx) — parameterized.
    The mapping is a literal `create_map` (broadcast-free, codegen'd); a
    broadcast dim-table join is the path if the map ever grows large.
    """
    col = F.col(filename) if isinstance(filename, str) else filename
    enc_pattern = r"(\.(" + "|".join(MIME_ENCODING_SUFFIXES) + r"))+$"
    stripped = F.regexp_replace(col, enc_pattern, "")
    ext = F.lower(F.regexp_extract(stripped, r"\.([^.\/]+)$", 1))
    pairs: list[Column] = []
    for k, v in MIME_BY_EXTENSION.items():
        pairs.extend([F.lit(k), F.lit(v)])
    return F.coalesce(F.element_at(F.create_map(*pairs), ext), F.lit(default))


def suffix_key(col: Column | str, sep: str = "-", n: int = 2) -> Column:
    """F6: key normalization to the last ``n`` separator-delimited segments
    (GTEx SAMPID → aliquot id, reference gtex_fhirizer.py:93-95)."""
    c = F.col(col) if isinstance(col, str) else col
    parts = F.split(c, sep)
    segs = [F.element_at(parts, i) for i in range(-n, 0)]
    return F.concat_ws(sep, *segs)


def age_bracket_to_birth_year_range(bracket: Column | str, as_of_year: int = 2025) -> Column:
    """F7: age bracket '60-69' → birth-year range '1956 - 1965'.

    The reference hardcodes year 2025 (gtex_fhirizer.py:148); frozen as the
    default for golden parity, overridable for real use.
    """
    c = F.col(bracket) if isinstance(bracket, str) else bracket
    lo = F.split(c, "-").getItem(0).cast("int")
    hi = F.split(c, "-").getItem(1).cast("int")
    return F.format_string("%d - %d", F.lit(as_of_year) - hi, F.lit(as_of_year) - lo)
