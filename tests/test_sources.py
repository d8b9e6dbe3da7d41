"""Custom Python DataSources: pagination-as-partitioning and FTP listing,
driven offline through staged fixtures (the bronze-zone deployment mode)."""

from __future__ import annotations

import json

import pytest

from fhir_etl_spark.session import default_parallelism
from fhir_etl_spark.sources import contiguous_ranges


@pytest.fixture(scope="module")
def registered(spark):
    from fhir_etl_spark.sources.ftp import FtpListingDataSource
    from fhir_etl_spark.sources.rest import PaginatedRestDataSource

    spark.dataSource.register(PaginatedRestDataSource)
    spark.dataSource.register(FtpListingDataSource)
    return spark


def test_paginated_rest_fixture(registered, tmp_path_factory):
    staged = tmp_path_factory.mktemp("pages")
    for page in range(5):
        data = [
            {"subjectId": f"GTEX-{page}-{i}", "sex": "female", "ageBracket": "60-69", "hardyScale": None}
            for i in range(100)
        ]
        (staged / f"page_{page}.json").write_text(
            json.dumps({"data": data, "paging_info": {"numberOfPages": 5}})
        )
    df = registered.read.format("paginated_rest").option("fixture_dir", str(staged)).load()
    # one contiguous page range per core, in page order
    assert df.rdd.getNumPartitions() == min(5, default_parallelism())
    assert [r["subjectId"] for r in df.collect()] == [
        f"GTEX-{page}-{i}" for page in range(5) for i in range(100)
    ]


@pytest.mark.parametrize("parts", [1, 2, 3, 4, 7])
@pytest.mark.parametrize("n", [0, 1, 3, 4, 5, 440])
def test_contiguous_ranges_partition_zero_to_n(n, parts):
    """``min(n, parts)`` ranges (one empty range for ``n == 0``) that
    concatenate to ``0..n`` and differ in size by at most one."""
    ranges = contiguous_ranges(n, parts)
    assert len(ranges) == max(1, min(n, parts))
    assert [i for r in ranges for i in r] == list(range(n))
    sizes = [len(r) for r in ranges]
    assert max(sizes) - min(sizes) <= 1


def test_rest_requires_source(registered):
    with pytest.raises(Exception, match="fixture_dir or endpoint"):
        registered.read.format("paginated_rest").load().collect()


@pytest.fixture()
def flaky_rest_server():
    """Localhost HTTP server speaking the paginated-REST shape, failing the
    first ``fail_first`` requests PER URL with a 500 before succeeding —
    the offline twin of the live-endpoint path the sandbox can't reach."""
    import http.server
    import threading
    from urllib.parse import parse_qs, urlparse

    state = {"fail_first": 0, "pages": 3, "items": 2, "counts": {}, "log": []}
    lock = threading.Lock()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 — http.server API
            q = parse_qs(urlparse(self.path).query)
            page = int(q.get("page", ["0"])[0])
            with lock:
                state["log"].append(page)
                n = state["counts"].get(self.path, 0)
                state["counts"][self.path] = n + 1
            if n < state["fail_first"]:
                self.send_response(500)
                self.end_headers()
                return
            body = json.dumps(
                {
                    "data": [
                        {"subjectId": f"S-{page}-{i}", "sex": "male",
                         "ageBracket": "50-59", "hardyScale": None}
                        for i in range(state["items"])
                    ],
                    "paging_info": {"numberOfPages": state["pages"]},
                }
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # silence per-request stderr noise
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}/api", state
    finally:
        srv.shutdown()


def test_rest_live_endpoint_retries_through_transient_failures(
    registered, flaky_rest_server
):
    """Every request (page discovery AND data pages) fails twice with a 500
    before succeeding; with retries=3 the full read must still deliver
    every row exactly once. Pins the backoff/retry path that staged
    fixtures never execute."""
    endpoint, state = flaky_rest_server
    state["fail_first"] = 2
    df = (
        registered.read.format("paginated_rest")
        .option("endpoint", endpoint)
        .option("items_per_page", str(state["items"]))
        .option("retries", "3")
        .option("backoff_s", "0.05")
        .load()
    )
    rows = df.collect()
    assert len(rows) == state["pages"] * state["items"]
    assert {r["subjectId"] for r in rows} == {
        f"S-{p}-{i}" for p in range(state["pages"]) for i in range(state["items"])
    }
    # pagination boundary: pages requested are exactly 0..numberOfPages-1
    assert set(state["log"]) == set(range(state["pages"]))


def test_rest_retry_exhaustion_raises(flaky_rest_server):
    """A server that NEVER recovers must surface ConnectionError after
    exactly `retries` attempts — not hang, not return partial data."""
    from fhir_etl_spark.sources.rest import _fetch_http

    endpoint, state = flaky_rest_server
    state["fail_first"] = 10**9
    with pytest.raises(ConnectionError, match="failed after 2 retries"):
        _fetch_http(endpoint, {"page": 0}, retries=2, backoff=0.01)
    assert sum(state["counts"].values()) == 2  # attempt count honored


def test_ftp_listing_fixture(registered, tmp_path_factory):
    staged = tmp_path_factory.mktemp("ftp")
    listing = {
        "ALL.chr1.vcf.gz": {"size": 1000, "mdtm": "213 20140912142107"},
        "ALL.chr2.vcf.gz": {"size": 0, "mdtm": "213 20140912142107"},
        "header": {"size": 5, "mdtm": "not parseable"},
        "README": {"size": None, "mdtm": "213 20140101000000"},
    }
    fixture = staged / "listing.json"
    fixture.write_text(json.dumps(listing))
    df = registered.read.format("ftp_listing").option("fixture_json", str(fixture)).load()
    # one contiguous slice of the sorted listing per core, in listing order
    assert df.rdd.getNumPartitions() == min(4, default_parallelism())
    collected = df.collect()
    assert [r["file"] for r in collected] == sorted(listing)
    rows = {r["file"]: r for r in collected}
    assert rows["ALL.chr1.vcf.gz"]["size"] == 1000
    assert rows["ALL.chr1.vcf.gz"]["last_modified"] == "2014-09-12T14:21:07"
    assert rows["README"]["size"] == 0  # None → 0 default
    assert rows["header"]["last_modified"] is not None  # fallback now()


def test_ftp_feeds_pipeline(registered, tmp_path_factory):
    """The DataSource output plugs directly into the 1KG stage-2 filter
    chain (schema contract check)."""
    from pyspark.sql import functions as F

    staged = tmp_path_factory.mktemp("ftp2")
    fixture = staged / "l.json"
    fixture.write_text(
        json.dumps({"a.vcf.gz": {"size": 10, "mdtm": "213 20140912142107"}, "b.txt": {"size": 1, "mdtm": "213 20140912142107"}})
    )
    listing = (
        registered.read.format("ftp_listing").option("fixture_json", str(fixture)).load()
    )
    from fhir_etl_spark.operators.fhirize import fhirize_document_reference_1kg

    vcfs = listing.filter(F.lower("file").contains("vcf")).na.drop(subset=["file"])
    docs = fhirize_document_reference_1kg(vcfs).collect()
    assert len(docs) == 1

def test_events_ts_loads_as_ltz_timestamp(spark, sf_dir):
    """The driver's events parquet has shipped ts as TIMESTAMP(NANOS) (r01)
    and as micros with isAdjustedToUTC=false → TIMESTAMP_NTZ (r02, which
    broke e3's epoch arithmetic in the gate AND the bench). load_tables
    must normalize both encodings to a session-tz TIMESTAMP so downstream
    epoch/interval arithmetic works regardless of the file's encoding."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fhir_etl_spark.session import load_tables

    events = load_tables(spark, sf_dir, "events")
    assert dict(events.dtypes)["ts"] == "timestamp"
    # the arithmetic that broke in r02 must resolve on what load_tables returns
    w = Window.partitionBy("user_id").orderBy("ts")
    events.select(
        F.col("ts").cast("double"),
        (F.col("ts") - F.lag("ts").over(w)).alias("gap"),
    ).limit(1).collect()


# --------------------------------------------------------------------------
# WARC source (sources/warc.py, round 5)
# --------------------------------------------------------------------------


def test_warc_record_grammar_roundtrip():
    """write → parse identity across all three storage layouts (plain,
    whole-file gzip, member-per-record gzip), plus HTTP splitting and
    grammar-violation errors."""
    import gzip

    import pytest

    from fhir_etl_spark.sources.warc import (
        http_response_record,
        parse_http_response,
        read_warc_bytes,
        write_warc,
    )

    body0 = "hello wörld\r\n\r\nstill body".encode()
    recs = [
        http_response_record("http://a/1", body0, "r1"),
        ({"WARC-Type": "warcinfo", "WARC-Record-ID": "<urn:uuid:w>"},
         b"software: test\r\n"),
        http_response_record("http://a/2", b"x" * 5000, "r2", status=404),
    ]
    for layout in ("members", "plain", "whole"):
        if layout == "members":
            data = write_warc(recs, gzip_members=True)
        elif layout == "plain":
            data = write_warc(recs, gzip_members=False)
        else:
            data = gzip.compress(write_warc(recs, gzip_members=False))
        parsed = list(read_warc_bytes(data))
        assert [h["warc-type"] for h, _ in parsed] == [
            "response", "warcinfo", "response",
        ], layout
        status, ctype, body = parse_http_response(parsed[0][1])
        assert (status, body) == (200, body0)
        assert ctype.startswith("text/plain")
        s2, _, b2 = parse_http_response(parsed[2][1])
        assert (s2, b2) == (404, b"x" * 5000)
        # warcinfo payload is not HTTP → passthrough
        assert parse_http_response(parsed[1][1])[0] is None

    with pytest.raises(ValueError):
        list(read_warc_bytes(write_warc(recs, gzip_members=True)[:40]))
    with pytest.raises(ValueError):
        list(read_warc_bytes(b"NOTWARC/1.0\r\n\r\n"))


def test_warc_datasource_spark(spark, tmp_path):
    """One partition per file through the Python DataSource; corrupt
    files become error rows, not job failures."""
    from fhir_etl_spark.sources.warc import (
        WarcDataSource,
        http_response_record,
        write_warc,
    )

    f1 = tmp_path / "a.warc.gz"
    f1.write_bytes(
        write_warc([http_response_record("http://x/1", b"abc", "r1"),
                    http_response_record("http://x/2", b"defg", "r2")])
    )
    f2 = tmp_path / "b.warc.gz"
    f2.write_bytes(b"\x1f\x8bgarbage-not-gzip")
    try:
        spark.dataSource.register(WarcDataSource)
    except Exception:
        pass
    df = (
        spark.read.format("warc_archive")
        .option("paths", f"{f1},{f2}")
        .load()
    )
    rows = df.collect()
    good = sorted(
        (r for r in rows if r["error"] is None), key=lambda r: r["target_uri"]
    )
    assert [(r["target_uri"], bytes(r["payload"]), r["http_status"]) for r in good] == [
        ("http://x/1", b"abc", 200), ("http://x/2", b"defg", 200),
    ]
    bad = [r for r in rows if r["error"] is not None]
    assert len(bad) == 1 and bad[0]["warc_file"].endswith("b.warc.gz")
    assert df.rdd.getNumPartitions() == 2  # one partition per WARC file


# --------------------------------------------------------------------------
# WebDataset tar-shard source (sources/tar.py, round 5)
# --------------------------------------------------------------------------


def test_webdataset_shard_roundtrip_unit():
    """write → iterate identity, the first-dot key split (multi-dot exts
    belong to the ext), directory-qualified keys, gzip shards."""
    from fhir_etl_spark.sources.tar import (
        iter_tar_members,
        split_member_name,
        write_webdataset_shard,
    )

    assert split_member_name("0001.jpg") == ("0001", "jpg")
    assert split_member_name("a/b/0001.seg.png") == ("a/b/0001", "seg.png")
    samples = [
        ("s1", {"txt": b"hello", "json": b"{}"}),
        ("dir/s2", {"jpg": b"\xff\xd8" + b"x" * 600}),
    ]
    for gz in (False, True):
        data = write_webdataset_shard(samples, gzip_shard=gz)
        members = list(iter_tar_members(data))
        assert [(n, len(p)) for n, p in members] == [
            ("s1.json", 2), ("s1.txt", 5), ("dir/s2.jpg", 602),
        ], gz
    # deterministic bytes (mtime pinned) for oracle replays
    assert write_webdataset_shard(samples) == write_webdataset_shard(samples)


def test_webdataset_datasource_spark(spark, tmp_path):
    """One partition per shard; declarative sample grouping; corrupt
    shards become error rows."""
    from fhir_etl_spark.sources.tar import (
        WebDatasetDataSource,
        group_webdataset_samples,
        write_webdataset_shard,
    )

    f1 = tmp_path / "a.tar"
    f1.write_bytes(
        write_webdataset_shard(
            [("k1", {"txt": b"alpha", "cls": b"en"}),
             ("k2", {"txt": b"beta", "cls": b"de"})]
        )
    )
    f2 = tmp_path / "b.tar"
    f2.write_bytes(b"definitely not a tar archive")
    try:
        spark.dataSource.register(WebDatasetDataSource)
    except Exception:
        pass
    members = (
        spark.read.format("webdataset").option("paths", f"{f1},{f2}").load()
    )
    assert members.rdd.getNumPartitions() == 2
    rows = members.collect()
    bad = [r for r in rows if r["error"] is not None]
    assert len(bad) == 1 and bad[0]["tar_file"].endswith("b.tar")

    samples = {
        r["key"]: r["parts"]
        for r in group_webdataset_samples(members).collect()
    }
    assert bytes(samples["k1"]["txt"]) == b"alpha"
    assert bytes(samples["k2"]["cls"]) == b"de"


def test_warc_wet_conversion_records():
    """WET files (Common Crawl's extracted-text variant) are WARC with
    ``conversion`` records whose payload is plain text — they flow
    through the same parser with HTTP fields untouched."""
    from fhir_etl_spark.sources.warc import read_warc_bytes, write_warc

    body = "extracted plain text\nwith lines".encode()
    data = write_warc(
        [({"WARC-Type": "conversion",
           "WARC-Record-ID": "<urn:uuid:c1>",
           "WARC-Target-URI": "http://x/page",
           "Content-Type": "text/plain"}, body)]
    )
    [(headers, payload)] = list(read_warc_bytes(data))
    assert headers["warc-type"] == "conversion"
    assert headers["warc-target-uri"] == "http://x/page"
    assert payload == body


def test_webdataset_duplicate_member_last_wins(spark, tmp_path):
    """A tar may legally contain two members with the same name; sample
    assembly must not fail on DUPLICATED_MAP_KEY (round-6 advice). Policy:
    last member in archive order wins, mirroring tar extraction."""
    import io
    import tarfile

    from fhir_etl_spark.sources.tar import (
        WebDatasetDataSource,
        group_webdataset_samples,
    )

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, payload in [
            ("k1.txt", b"first"),
            ("k1.cls", b"en"),
            ("k1.txt", b"second"),  # duplicate name — overwrites on untar
        ]:
            info = tarfile.TarInfo(name=name)
            info.size = len(payload)
            info.mtime = 0
            tf.addfile(info, io.BytesIO(payload))
    f = tmp_path / "dup.tar"
    f.write_bytes(buf.getvalue())

    try:
        spark.dataSource.register(WebDatasetDataSource)
    except Exception:
        pass
    members = spark.read.format("webdataset").option("paths", str(f)).load()
    rows = members.collect()
    assert [r["member_index"] for r in sorted(rows, key=lambda r: r["member_index"])] == [0, 1, 2]
    [sample] = group_webdataset_samples(members).collect()
    assert bytes(sample["parts"]["txt"]) == b"second"
    assert bytes(sample["parts"]["cls"]) == b"en"


def test_xlsx_parser_shared_strings_and_implicit_refs():
    """From-spec parse paths the deterministic writer can't produce:
    sharedStrings indirection (plain + rich-text runs), cells/rows
    without r= references (sequential fallback), formula-result strings,
    out-of-range shared index raising."""
    import io
    import zipfile

    import pytest

    from fhir_etl_spark.sources.xlsx import iter_xlsx_cells

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    shared = (
        f'<sst {ns} count="3" uniqueCount="3">'
        "<si><t>alpha</t></si>"
        "<si><r><rPr/><t>be</t></r><r><t>ta</t></r></si>"  # rich-text runs
        "<si><t xml:space=\"preserve\"> c </t></si></sst>"
    )
    sheet = (
        f'<worksheet {ns}><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c t="s"><v>1</v></c></row>'
        "<row><c><v>42</v></c><c t=\"s\"><v>2</v></c>"
        '<c t="str"><v>=SUM()</v></c></row>'
        "</sheetData></worksheet>"
    )

    def book(sheet_xml, shared_xml):
        wb = (
            f'<workbook {ns} xmlns:r="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships"><sheets>'
            '<sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'
        )
        rels = (
            '<Relationships xmlns="http://schemas.openxmlformats.org/'
            'package/2006/relationships"><Relationship Id="rId1" Type="t" '
            'Target="worksheets/sheet1.xml"/></Relationships>'
        )
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr("xl/workbook.xml", wb)
            zf.writestr("xl/_rels/workbook.xml.rels", rels)
            zf.writestr("xl/worksheets/sheet1.xml", sheet_xml)
            if shared_xml:
                zf.writestr("xl/sharedStrings.xml", shared_xml)
        return buf.getvalue()

    got = list(iter_xlsx_cells(book(sheet, shared)))
    assert got == [
        ("S", 1, 1, "A1", "s", "alpha"),
        ("S", 1, 2, "B1", "s", "beta"),       # implicit col after A1
        ("S", 2, 1, "A2", "n", "42"),         # implicit row + col
        ("S", 2, 2, "B2", "s", " c "),        # space-preserved
        ("S", 2, 3, "C2", "str", "=SUM()"),   # formula string result
    ]
    bad = sheet.replace("<v>2</v>", "<v>9</v>")
    with pytest.raises(ValueError, match="shared string"):
        list(iter_xlsx_cells(book(bad, shared)))


def test_xlsx_datasource_spark_and_records(spark, tmp_path):
    """DataSource partitions per file; corrupt file lands in an error row;
    xlsx_records pivots to map<header, value> with first-header-wins
    duplicate dedupe — all declarative."""
    from fhir_etl_spark.sources.xlsx import (
        XlsxDataSource,
        write_xlsx,
        xlsx_records,
    )

    good = tmp_path / "a.xlsx"
    good.write_bytes(
        write_xlsx(
            {
                "dict": [
                    ["VAR", "DESC", "VAR"],  # duplicate header name
                    ["SMTS", "tissue", "shadowed"],
                    [None, "no-name", None],
                ]
            }
        )
    )
    bad = tmp_path / "b.xlsx"
    bad.write_bytes(b"PK\x03\x04 not a real zip")
    try:
        spark.dataSource.register(XlsxDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    cells = (
        spark.read.format("xlsx")
        .option("paths", f"{good},{bad}")
        .load()
        .cache()
    )
    assert cells.rdd.getNumPartitions() == 2
    errs = cells.where("error IS NOT NULL").collect()
    assert len(errs) == 1 and errs[0]["xlsx_file"].endswith("b.xlsx")

    recs = {
        r["row_num"]: r["fields"]
        for r in xlsx_records(cells, header_row=1).collect()
    }
    assert recs[2] == {"VAR": "SMTS", "DESC": "tissue"}  # first VAR wins
    assert recs[3] == {"DESC": "no-name"}


def test_arrow_ipc_roundtrip_and_errors(spark, tmp_path):
    """Round-8 s17: IPC read-back preserves values/types/nulls across
    multiple files and multiple batches per file; corrupt payloads and
    missing declared columns raise LOUDLY with the file path (never
    silent null-fill); casts to the declared schema are applied."""
    import pyarrow as pa
    import pytest as _pytest

    from fhir_etl_spark.sources.arrow_ipc import read_arrow_ipc, write_ipc_file

    t1 = pa.table(
        {"id": pa.array([1, 2, None], pa.int32()),  # int32 → casts to bigint
         "name": pa.array(["a", None, "c"])}
    )
    t2 = pa.table({"id": pa.array([4, 5], pa.int32()),
                   "name": pa.array(["d", "e"]),
                   "extra": pa.array([9, 9])})  # extra cols are pruned
    write_ipc_file(str(tmp_path / "a.arrow"), t1)
    write_ipc_file(str(tmp_path / "b.arrow"), t2)

    got = read_arrow_ipc(
        spark, f"{tmp_path}/*.arrow", "id bigint, name string"
    )
    rows = {r["id"]: r["name"] for r in got.collect()}
    assert rows == {1: "a", 2: None, None: "c", 4: "d", 5: "e"}
    assert dict(got.dtypes) == {"id": "bigint", "name": "string"}

    # missing declared column → KeyError naming the file
    with _pytest.raises(Exception, match="lacks declared columns"):
        read_arrow_ipc(
            spark, f"{tmp_path}/a.arrow", "id bigint, nope string"
        ).collect()

    # corrupt payload → ValueError naming the file
    (tmp_path / "c.arrow").write_bytes(b"ARROW1 but not really")
    with _pytest.raises(Exception, match="cannot open"):
        read_arrow_ipc(
            spark, f"{tmp_path}/c.arrow", "id bigint, name string"
        ).collect()
