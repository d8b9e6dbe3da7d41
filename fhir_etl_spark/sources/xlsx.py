"""Excel ``.xlsx`` source (SURVEY.md §2 S10) — the GTEx data-dictionary
format the reference declares a dependency for but never reads
(``openpyxl``/``pandas`` in ``/root/reference/setup.py:28-29``; no module
calls them). Closing the last coverage row: a from-spec reader so a user
with ``.xlsx`` variable dictionaries can ingest them without leaving the
engine.

No openpyxl in-container, so the parser is pure stdlib over the public
ECMA-376 / ISO 29500 SpreadsheetML layout: a zip containing
``xl/workbook.xml`` (sheet names), ``xl/_rels/workbook.xml.rels`` (sheet
targets), ``xl/sharedStrings.xml`` (interned strings), and one
``xl/worksheets/sheetN.xml`` per sheet whose ``<c r="B2" t="s"><v>``
cells hold either a number, a shared-string index, an inline string, or
a boolean. Namespace handling is local-name based (files in the wild mix
default and prefixed namespaces).

Spark integration mirrors sources/tar.py: a Python DataSource planning
one partition PER FILE — dictionaries are many-small-files shaped, so the
file is the parallelism unit; a single multi-GB sheet is not this
format's use case (that data ships as CSV/parquet). The source emits one
row PER CELL; record assembly stays declarative on top —
``xlsx_records`` pivots cells into a ``map<header, value>`` per sheet row
with groupBys + ``map_from_entries``, so Catalyst plans it instead of
Python. Corrupt files land in an error row, never a job failure.

``write_xlsx`` builds minimal deterministic workbooks for tests and the
s15 round-trip oracle (inline strings; fixed zip timestamps).
"""

from __future__ import annotations

import io
import re
import zipfile
from xml.etree import ElementTree

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

XLSX_SCHEMA = (
    "xlsx_file string, sheet string, row_num long, col long, "
    "cell_ref string, cell_type string, value string, error string"
)


def _local(tag: str) -> str:
    return tag.rpartition("}")[2]


def col_to_index(letters: str) -> int:
    """'A' → 1, 'Z' → 26, 'AA' → 27 (base-26 bijective numeration)."""
    n = 0
    for ch in letters:
        if not "A" <= ch <= "Z":
            raise ValueError(f"bad column letters {letters!r}")
        n = n * 26 + (ord(ch) - ord("A") + 1)
    return n


def index_to_col(n: int) -> str:
    """1 → 'A', 27 → 'AA' (inverse of col_to_index)."""
    if n < 1:
        raise ValueError(f"column index must be >= 1, got {n}")
    out = []
    while n:
        n, rem = divmod(n - 1, 26)
        out.append(chr(ord("A") + rem))
    return "".join(reversed(out))


_CELL_REF = re.compile(r"^([A-Z]+)(\d+)$")


def _text_of(elem) -> str:
    """Concatenated text of every descendant <t> (plain + rich-text runs)."""
    return "".join(
        t.text or "" for t in elem.iter() if _local(t.tag) == "t"
    )


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        data = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ElementTree.fromstring(data)
    return [_text_of(si) for si in root if _local(si.tag) == "si"]


def _sheet_targets(zf: zipfile.ZipFile) -> list[tuple[str, str]]:
    """[(sheet_name, member_path)] in workbook order, resolved through the
    workbook relationships part (sheet order and names live in
    workbook.xml; the XML part each maps to lives in the .rels)."""
    wb = ElementTree.fromstring(zf.read("xl/workbook.xml"))
    rels = ElementTree.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    rid_to_target = {}
    for rel in rels:
        if _local(rel.tag) != "Relationship":
            continue
        target = rel.get("Target", "")
        if target.startswith("/"):
            target = target.lstrip("/")
        else:
            target = f"xl/{target}"
        rid_to_target[rel.get("Id")] = target
    out = []
    for node in wb.iter():
        if _local(node.tag) != "sheet":
            continue
        rid = next(
            (v for k, v in node.attrib.items() if _local(k) == "id"), None
        )
        target = rid_to_target.get(rid)
        if target:
            out.append((node.get("name", ""), target))
    return out


def iter_xlsx_cells(data: bytes):
    """Yield (sheet, row_num, col, cell_ref, cell_type, value) for every
    non-empty cell of every sheet. ``value`` is always a string: numbers
    keep their stored lexical form (xlsx itself stores them as text in
    ``<v>``), booleans become 'TRUE'/'FALSE', shared/inline strings are
    resolved. Cells missing an ``r`` reference (legal — some writers omit
    them) fall back to sequential position."""
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        shared = _shared_strings(zf)
        for sheet_name, member in _sheet_targets(zf):
            root = ElementTree.fromstring(zf.read(member))
            implicit_row = 0
            for row in root.iter():
                if _local(row.tag) != "row":
                    continue
                implicit_row = int(row.get("r", implicit_row + 1))
                implicit_col = 0
                for cell in row:
                    if _local(cell.tag) != "c":
                        continue
                    ref = cell.get("r")
                    if ref:
                        m = _CELL_REF.match(ref)
                        if not m:
                            raise ValueError(f"bad cell ref {ref!r}")
                        implicit_col = col_to_index(m.group(1))
                        row_num = int(m.group(2))
                    else:
                        implicit_col += 1
                        row_num = implicit_row
                        ref = f"{index_to_col(implicit_col)}{row_num}"
                    ctype = cell.get("t", "n")
                    value = None
                    if ctype == "inlineStr":
                        value = _text_of(cell)
                    else:
                        v = next(
                            (c for c in cell if _local(c.tag) == "v"), None
                        )
                        if v is not None:
                            raw = v.text or ""
                            if ctype == "s":
                                idx = int(raw)
                                if idx >= len(shared):
                                    raise ValueError(
                                        f"shared string {idx} out of range"
                                    )
                                value = shared[idx]
                            elif ctype == "b":
                                value = "TRUE" if raw.strip() == "1" else "FALSE"
                            else:  # n, str (formula result), e
                                value = raw
                    if value is not None:
                        yield (sheet_name, row_num, implicit_col, ref, ctype, value)


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def write_xlsx(sheets: dict[str, list[list[object]]]) -> bytes:
    """{sheet_name: rows} → minimal valid .xlsx bytes. Numbers (int/float,
    not bool) become numeric cells, everything else inline strings; None
    skips the cell. Deterministic (fixed zip metadata) so tests and the
    s15 oracle can rely on byte-stable fixtures."""
    names = list(sheets)
    sheet_xmls = []
    for rows in sheets.values():
        body = []
        for r, row in enumerate(rows, start=1):
            cells = []
            for c, val in enumerate(row, start=1):
                if val is None:
                    continue
                ref = f"{index_to_col(c)}{r}"
                if isinstance(val, bool):
                    cells.append(f'<c r="{ref}" t="b"><v>{int(val)}</v></c>')
                elif isinstance(val, (int, float)):
                    cells.append(f'<c r="{ref}"><v>{val!r}</v></c>')
                else:
                    cells.append(
                        f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
                        f"{_xml_escape(str(val))}</t></is></c>"
                    )
            body.append(f'<row r="{r}">{"".join(cells)}</row>')
        sheet_xmls.append(
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main"><sheetData>'
            + "".join(body)
            + "</sheetData></worksheet>"
        )
    sheet_entries = "".join(
        f'<sheet name="{_xml_escape(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, n in enumerate(names)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/'
        'spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/'
        f'officeDocument/2006/relationships"><sheets>{sheet_entries}</sheets>'
        "</workbook>"
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/'
        'package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" Type="http://schemas.'
            "openxmlformats.org/officeDocument/2006/relationships/worksheet"
            f'" Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(names))
        )
        + "</Relationships>"
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/'
        'package/2006/relationships"><Relationship Id="rId1" Type="http://'
        "schemas.openxmlformats.org/officeDocument/2006/relationships/"
        'officeDocument" Target="xl/workbook.xml"/></Relationships>'
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types"><Default Extension="rels" ContentType="application/'
        'vnd.openxmlformats-package.relationships+xml"/><Default Extension='
        '"xml" ContentType="application/xml"/><Override PartName="/xl/'
        'workbook.xml" ContentType="application/vnd.openxmlformats-'
        'officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(
            f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
            'ContentType="application/vnd.openxmlformats-officedocument.'
            'spreadsheetml.worksheet+xml"/>'
            for i in range(len(names))
        )
        + "</Types>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        members = [
            ("[Content_Types].xml", content_types),
            ("_rels/.rels", root_rels),
            ("xl/workbook.xml", workbook),
            ("xl/_rels/workbook.xml.rels", rels),
        ] + [
            (f"xl/worksheets/sheet{i + 1}.xml", xml)
            for i, xml in enumerate(sheet_xmls)
        ]
        for name, text in members:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, text)
    return buf.getvalue()


class XlsxPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class XlsxReader(DataSourceReader):
    def __init__(self, options: dict):
        paths = options.get("paths")
        if not paths:
            raise ValueError("xlsx source requires 'paths' (comma-separated)")
        self.paths = sorted(p for p in paths.split(",") if p)

    def partitions(self):
        return [XlsxPartition(p) for p in self.paths]

    def read(self, partition: XlsxPartition):
        path = partition.path
        try:
            with open(path, "rb") as f:
                data = f.read()
            for sheet, row_num, col, ref, ctype, value in iter_xlsx_cells(data):
                yield (path, sheet, row_num, col, ref, ctype, value, None)
        except Exception as exc:  # noqa: BLE001 — file-level error row
            yield (path, None, None, None, None, None, None,
                   f"{type(exc).__name__}: {exc}"[:200])


class XlsxDataSource(DataSource):
    """``spark.read.format('xlsx').option('paths', 'a.xlsx,b.xlsx')``.
    Register with ``spark.dataSource.register(XlsxDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "xlsx"

    def schema(self) -> str:
        return XLSX_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return XlsxReader(self.options)


def xlsx_records(cells: DataFrame, header_row: int = 1) -> DataFrame:
    """Cell rows → one row per sheet data row: (xlsx_file, sheet, row_num,
    fields: map<header, value>) with column headers taken from
    ``header_row``. Pure Catalyst (an aggregated header map joined back
    onto the cells, then map_from_entries per row) — the pivot never
    touches Python. The header side is one row per (file, sheet) — tiny
    per workbook but linear in corpus size, so no hardcoded broadcast
    hint: AQE converts the join at runtime whenever the header table
    actually fits (it does for any dictionary corpus short of millions of
    workbooks; past that the shuffle join is the correct plan anyway,
    co-partitioned with the groupBys on the same key). Duplicate header
    names are
    deduped deterministically (the LOWEST-column occurrence wins for the
    name→value binding, mirroring "first header wins"), so
    ``map_from_entries`` never sees a duplicated key (Spark's default
    ``mapKeyDedupPolicy=EXCEPTION`` would otherwise fail the job on one
    sloppy workbook)."""
    headers = (
        cells.where(F.col("error").isNull() & (F.col("row_num") == header_row))
        .groupBy("xlsx_file", "sheet")
        .agg(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(F.struct("col", F.col("value").alias("name")))
                )
            ).alias("_hdr")
        )
    )
    # strictly BELOW the header: rows above it (title/banner rows when
    # header_row > 1) are pre-header chrome, not records
    data = cells.where(
        F.col("error").isNull() & (F.col("row_num") > header_row)
    )
    entries = F.array_sort(
        F.collect_list(F.struct(F.col("col").alias("c"), "_name", "value"))
    )
    return (
        data.join(headers, ["xlsx_file", "sheet"])
        .withColumn("_name", F.col("_hdr")[F.col("col")])
        .where(F.col("_name").isNotNull())
        # first-column-wins dedupe of repeated header names within a row
        .groupBy("xlsx_file", "sheet", "row_num", "_name")
        .agg(
            F.min("col").alias("col"),
            F.min_by("value", "col").alias("value"),
        )
        .groupBy("xlsx_file", "sheet", "row_num")
        .agg(
            F.map_from_entries(
                F.transform(entries, lambda x: F.struct(x["_name"], x["value"]))
            ).alias("fields")
        )
    )
