"""FTP directory-listing DataSource (SURVEY.md §2.1 S5, §4.3).

The reference NLSTs a directory then issues a serial SIZE + MDTM per file
(document_references.py:125-153). Here the listing is planned on the driver
and cut into one contiguous slice per core (``min(files, cores)`` input
partitions, ``sources.contiguous_ranges``), so the per-file metadata calls
run in parallel, each executor on its own FTP connection, and
partition-major row order is listing order. The reference's
error-defaulting is kept: SIZE failure → 0, MDTM failure → now()
(COALESCE semantics, utils.py:80-88).

Transports:
- ``fixture_json``: a staged JSON file ``{name: {"size": n, "mdtm": "213
  yyyymmddhhmmss"}}`` (offline tests / bronze staging)
- ``host`` + ``directory``: live ftplib (stdlib), anonymous login
"""

from __future__ import annotations

import json
from datetime import datetime

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from fhir_etl_spark.session import default_parallelism
from fhir_etl_spark.sources import contiguous_ranges

FTP_LISTING_SCHEMA = "file string, size long, last_modified string"


class FileSlice(InputPartition):
    def __init__(self, files: list[str]):
        self.files = files


def _parse_mdtm(mdtm_response: str) -> str:
    """'213 20220509124500' → ISO-8601 (reference utils.py:80-88)."""
    return datetime.strptime(mdtm_response[4:].strip(), "%Y%m%d%H%M%S").isoformat()


class FtpListingReader(DataSourceReader):
    def __init__(self, options: dict):
        self.fixture_json = options.get("fixture_json")
        self.host = options.get("host")
        self.directory = options.get("directory", "/")
        if not self.fixture_json and not self.host:
            raise ValueError("ftp_listing requires fixture_json or host")

    def _list_files(self) -> list[str]:
        if self.fixture_json:
            with open(self.fixture_json) as f:
                return sorted(json.load(f).keys())
        import ftplib

        ftp = ftplib.FTP(self.host)
        ftp.login()
        ftp.cwd(self.directory)
        files = ftp.nlst()
        ftp.quit()
        return sorted(files)

    def partitions(self):
        files = self._list_files()
        return [
            FileSlice(files[r.start : r.stop])
            for r in contiguous_ranges(len(files), default_parallelism())
        ]

    def read(self, partition: FileSlice):
        if self.fixture_json:
            with open(self.fixture_json) as f:
                meta = json.load(f)
            for name in partition.files:
                entry = meta[name]
                size = int(entry.get("size") or 0)
                try:
                    last_modified = _parse_mdtm(entry["mdtm"])
                except Exception:  # noqa: BLE001 — reference defaults to now()
                    last_modified = datetime.now().isoformat()
                yield (name, size, last_modified)
            return

        import ftplib

        ftp = ftplib.FTP(self.host)
        ftp.login()
        ftp.cwd(self.directory)
        for name in partition.files:
            try:
                size = ftp.size(name) or 0
            except Exception:  # noqa: BLE001
                size = 0
            try:
                last_modified = _parse_mdtm(ftp.sendcmd("MDTM " + name))
            except Exception:  # noqa: BLE001
                last_modified = datetime.now().isoformat()
            yield (name, size, last_modified)
        ftp.quit()


class FtpListingDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "ftp_listing"

    def schema(self) -> str:
        return FTP_LISTING_SCHEMA

    def reader(self, schema: StructType) -> FtpListingReader:
        return FtpListingReader(dict(self.options))
