"""Paginated-REST DataSource (SURVEY.md §2.1 S3, §4.3).

The reference fetches GTEx REST pages SERIALLY — ~436 pages × 100 items in
one Python loop (gtex_fhirizer.py:53-75, with a "come back the next day"
comment for failures). Here pagination IS partition planning: the PySpark 4
Python DataSource cuts the pages into one contiguous range per core
(``min(pages, cores)`` input partitions, ``sources.contiguous_ranges``), so
executors fetch pages in parallel with per-request retry/backoff, and
partition-major row order is page order.

Two transports, chosen by option:
- ``fixture_dir``: staged page files ``page_<n>.json`` (offline tests and
  the bronze-staging deployment mode)
- ``endpoint``: live HTTP via urllib (stdlib; per-page retries with
  exponential backoff — ``retries``/``backoff_s`` options), with
  ``paging_info.numberOfPages`` discovered from page 0 at planning time —
  exactly the reference's discovery step, minus the serial loop. The
  retry/backoff/pagination-boundary behavior is pinned offline by a
  localhost flaky-server fixture (tests/test_sources.py).

Usage:
    spark.dataSource.register(PaginatedRestDataSource)
    df = (spark.read.format("paginated_rest")
          .option("fixture_dir", staged).option("fields", "subjectId,sex")
          .load())
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from fhir_etl_spark.session import default_parallelism
from fhir_etl_spark.sources import contiguous_ranges


class PageRange(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


def _fetch_http(url: str, params: dict, retries: int = 3, backoff: float = 1.0) -> dict:
    import urllib.parse
    import urllib.request

    full = f"{url}?{urllib.parse.urlencode(params)}"
    last_err: Exception | None = None
    for attempt in range(retries):
        try:
            with urllib.request.urlopen(full, timeout=30) as resp:
                return json.loads(resp.read().decode("utf-8"))
        except Exception as exc:  # noqa: BLE001 — any transport error retries
            last_err = exc
            time.sleep(backoff * (2**attempt))
    raise ConnectionError(f"failed after {retries} retries: {full}") from last_err


class PaginatedRestReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema_fields = [f.name for f in schema.fields]
        self.fixture_dir = options.get("fixture_dir")
        self.endpoint = options.get("endpoint")
        self.dataset_id = options.get("dataset_id", "gtex_v10")
        self.items_per_page = int(options.get("items_per_page", "100"))
        self.retries = int(options.get("retries", "3"))
        self.backoff_s = float(options.get("backoff_s", "1.0"))
        if not self.fixture_dir and not self.endpoint:
            raise ValueError("paginated_rest requires fixture_dir or endpoint")

    def _num_pages(self) -> int:
        if self.fixture_dir:
            return len(
                [f for f in os.listdir(self.fixture_dir) if f.startswith("page_")]
            )
        first = _fetch_http(
            self.endpoint,
            {"datasetId": self.dataset_id, "itemsPerPage": self.items_per_page, "page": 0},
            retries=self.retries,
            backoff=self.backoff_s,
        )
        return int(first["paging_info"]["numberOfPages"])

    def partitions(self):
        ranges = contiguous_ranges(self._num_pages(), default_parallelism())
        return [PageRange(r.start, r.stop) for r in ranges]

    def _load_page(self, page: int) -> list[dict]:
        if self.fixture_dir:
            with open(os.path.join(self.fixture_dir, f"page_{page}.json")) as f:
                return json.load(f)["data"]
        resp = _fetch_http(
            self.endpoint,
            {
                "datasetId": self.dataset_id,
                "itemsPerPage": self.items_per_page,
                "page": page,
            },
            retries=self.retries,
            backoff=self.backoff_s,
        )
        return resp["data"]

    def read(self, partition: PageRange):
        for page in range(partition.start, partition.end):
            for record in self._load_page(page):
                yield tuple(record.get(f) for f in self.schema_fields)


class PaginatedRestDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "paginated_rest"

    def schema(self) -> str:
        fields = self.options.get("fields", "subjectId,sex,ageBracket,hardyScale")
        # strip whitespace and reject empties: "subjectId, sex" must not
        # produce a field named " sex" (record.get(' sex') would yield an
        # all-NULL column with no error)
        names = [f.strip() for f in fields.split(",")]
        if any(not n for n in names):
            raise ValueError(f"empty field name in fields option: {fields!r}")
        return ", ".join(f"{f} string" for f in names)

    def reader(self, schema: StructType) -> PaginatedRestReader:
        return PaginatedRestReader(schema, dict(self.options))
