"""Output order and source reads of the FHIR output path.

- The NDJSON sink and both upsert modes write the same bytes whatever the
  shuffle-partition setting, the input's partitioning, or the number of
  splits the existing file is read in.
- ``transform_gtex`` reads each page of its REST sources once, and leaves
  no cached data behind.
- ``transform_1k_files`` returns its membership counts and raises its VCF
  header errors as before, and writes its DocumentReferences in listing
  order with the same bytes at any shuffle-partition setting.
- A stage's writes run concurrently, their jobs stay in the caller's job
  group, and a failed write is raised once the others have completed,
  leaving no staging directory behind.
"""

from __future__ import annotations

import itertools
import json
import shutil
import threading
import time
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from fhir_etl_spark.sinks.ndjson import write_ndjson
from fhir_etl_spark.sinks.upsert import create_or_extend
from tests.test_output_pins import _obj, _upsert_model

# 40 resources, then two batches that overlap them and repeat new ids
FIRST = [(f"e{i:02d}", f"v{i}", i) for i in range(40)]
INSERT = [(f"e{i:02d}", "new", 0) for i in range(0, 40, 7)] + [
    (f"n{i % 9}", f"first{i}", i) for i in range(20)
]
UPDATE = [(f"e{i:02d}", "upd", 1) for i in range(3, 40, 5)] + [
    (f"m{i % 4}", f"last{i}", i) for i in range(12)
]


@contextmanager
def _conf(spark, **settings):
    old = {k: spark.conf.get(k) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _resources(spark, rows, slices):
    rdd = spark.sparkContext.parallelize(rows, slices)
    return spark.createDataFrame(rdd, "id string, v string, n int").select(
        F.struct("id", "v", "n").alias("resource")
    )


def _read(path) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def _write_all(spark, folder, slices):
    out = [_read(write_ndjson(_resources(spark, FIRST, slices), folder, "Patient"))]
    for batch, update in ((INSERT, False), (UPDATE, True)):
        path = create_or_extend(
            spark, _resources(spark, batch, slices), folder, "Patient", update_existing=update
        )
        out.append(_read(path))
    return out


def _model() -> list[bytes]:
    """The file after each of the three writes, from the dict model."""
    out = [_upsert_model([], [_obj(*r) for r in FIRST], False)]
    for batch, update in ((INSERT, False), (UPDATE, True)):
        previous = [json.loads(line) for line in out[-1].splitlines()]
        out.append(_upsert_model(previous, [_obj(*r) for r in batch], update))
    return out


def test_sink_and_upsert_bytes_do_not_depend_on_partitioning(spark, tmp_path):
    expected = _model()
    for shuffle, slices, split in ((4, 1, "128MB"), (16, 7, "256b")):
        folder = str(tmp_path / f"s{shuffle}_p{slices}_{split}")
        with _conf(spark, **{"spark.sql.shuffle.partitions": str(shuffle),
                             "spark.sql.files.maxPartitionBytes": split}):
            got = _write_all(spark, folder, slices)
            if split == "256b":  # the existing file is read as several splits
                assert spark.read.text(f"{folder}/Patient.ndjson").rdd.getNumPartitions() > 1
        assert got == expected, (shuffle, slices, split)


def _write_pages(folder, rows, per_page):
    folder.mkdir()
    for p in range(0, len(rows), per_page):
        page = {"data": rows[p : p + per_page]}
        (folder / f"page_{p // per_page}.json").write_text(json.dumps(page))


SUBJECTS = [{"subjectId": f"GTEX-{i}", "sex": "male", "ageBracket": "20-29",
             "hardyScale": None} for i in range(6)]
SAMPLES = [{"aliquotId": f"SM-{i}", "subjectId": f"GTEX-{i % 6}", "dataType": "RNASEQ",
            "freezeType": "Frozen", "tissueSiteDetailId": "Lung", "tissueSiteDetail": "Lung"}
           for i in range(9)]


def _gtex_inputs(spark, tmp_path, rest_format, **options):
    """Stage a small GTEx input set under ``tmp_path`` and return
    ``transform_gtex``'s four source DataFrames, the REST pages read
    through ``rest_format`` with ``options``."""
    from fhir_etl_spark.schemas.inputs import GTEX_FILELIST, GTEX_SAMPLE, GTEX_SUBJECT

    _write_pages(tmp_path / "subjects", SUBJECTS, 2)
    _write_pages(tmp_path / "samples", SAMPLES, 3)
    (tmp_path / "filelist.json").write_text(json.dumps({"name": "GTEx Analysis V8", "filesets": [
        {"name": "Protected", "subpath": "p", "files": []},
        {"name": "Expression", "subpath": "e", "files": [
            {"name": "x.gct.gz", "release": "v8", "type": "Expression", "size": "1 MiB"}]}]}))
    (tmp_path / "annotations.tsv").write_text(
        "SAMPID\tSMTS\nGTEX-1-0001-SM-1\tLung\nGTEX-2-0001-SM-4\tLung\n")

    def pages(name, schema):
        reader = (spark.read.format(rest_format).option("fixture_dir", str(tmp_path / name))
                  .option("fields", ",".join(f.name for f in schema.fields)))
        return reader.options(**options).load()

    return (
        pages("subjects", GTEX_SUBJECT), pages("samples", GTEX_SAMPLE),
        spark.read.schema(GTEX_FILELIST).json(str(tmp_path / "filelist.json")),
        spark.read.option("sep", "\t").option("header", True).csv(str(tmp_path / "annotations.tsv")),
    )


def test_transform_gtex_reads_each_rest_page_once(spark, tmp_path):
    from fhir_etl_spark.pipelines.gtex import transform_gtex
    from fhir_etl_spark.sources.rest import PaginatedRestDataSource, PaginatedRestReader

    class CountingReader(PaginatedRestReader):
        """Appends ``{fixture_dir} {page}`` to ``read_log`` per page read."""

        def __init__(self, schema, options):
            super().__init__(schema, options)
            self.read_log = options["read_log"]

        def read(self, partition):
            with open(self.read_log, "a") as f:
                for page in range(partition.start, partition.end):
                    f.write(f"{self.fixture_dir} {page}\n")
            yield from super().read(partition)

    class CountingRestDataSource(PaginatedRestDataSource):
        @classmethod
        def name(cls):
            return "counting_rest"

        def reader(self, schema):
            return CountingReader(schema, dict(self.options))

    spark.dataSource.register(CountingRestDataSource)
    log = tmp_path / "reads.log"
    inputs = _gtex_inputs(spark, tmp_path, "counting_rest", read_log=str(log))

    persistent = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    meta = str(tmp_path / "meta")
    transform_gtex(spark, *inputs, meta)
    reads = sorted(log.read_text().splitlines())
    assert reads == sorted(
        [f"{tmp_path / 'subjects'} {p}" for p in range(3)]
        + [f"{tmp_path / 'samples'} {p}" for p in range(3)]
    )
    # no RDD the call cached is left; the context cleaner may meanwhile drop
    # RDDs earlier tests left behind, so the set can shrink
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) <= persistent
    with open(f"{meta}/Specimen.ndjson") as f:
        assert len(f.readlines()) == 9
    with open(f"{meta}/Group.ndjson") as f:
        assert len(json.loads(f.read())["member"]) == 2


def test_transform_gtex_writes_overlap(spark, tmp_path, monkeypatch):
    """The six GTEx writes run concurrently: at least two of them, on
    different threads, are in flight at the same time."""
    from fhir_etl_spark.pipelines import gtex
    from fhir_etl_spark.sources.rest import PaginatedRestDataSource

    spark.dataSource.register(PaginatedRestDataSource)
    spans = []
    write = gtex.write_ndjson

    def recording(df, folder, rtype):
        start = time.perf_counter()
        path = write(df, folder, rtype)
        spans.append((threading.get_ident(), start, time.perf_counter()))
        return path

    monkeypatch.setattr(gtex, "write_ndjson", recording)
    gtex.transform_gtex(spark, *_gtex_inputs(spark, tmp_path, "paginated_rest"),
                        str(tmp_path / "meta"))
    assert len(spans) == 6
    assert any(
        a[0] != b[0] and a[1] < b[2] and b[1] < a[2]
        for a, b in itertools.combinations(spans, 2)
    )


def _onekg_meta(spark, tmp_path):
    from fhir_etl_spark.pipelines.onekg import transform_1k

    tsv = tmp_path / "sample_info.tsv"
    tsv.write_text(
        "Sample\tGender\tPopulation Description\tPopulation\tDNA Source from Coriell\t"
        "Main project LC platform\n"
        "HG00096\tmale\tBritish\tGBR\t\tILLUMINA\n"
        "HG00097\tfemale\tBritish\tGBR\tLCL\t\n"
    )
    meta = str(tmp_path / "meta")
    transform_1k(spark, str(tsv), meta)
    return meta


def _listing(spark):
    return spark.createDataFrame(
        [("ALL.chr1.x.vcf.gz", 100, "2014-09-12T14:21:07")],
        "file string, size bigint, last_modified string",
    )


HEADER_COLS = "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT"


def test_transform_1k_files_counts_and_header_errors(spark, tmp_path):
    from fhir_etl_spark.pipelines.onekg import transform_1k_files

    meta = _onekg_meta(spark, tmp_path)
    header = tmp_path / "header"
    # one duplicate (HG00097) and one missing (ZZZ) header id
    header.write_text(f"##fileformat=VCFv4.1\n{HEADER_COLS}\tHG00096\tHG00097\tHG00097\tZZZ\n")
    counts = transform_1k_files(spark, _listing(spark), str(header), meta)
    assert counts == {"header_ids": 4, "found": 2, "missing": 1}
    assert list(counts) == ["header_ids", "found", "missing"]

    for text, message in (
        ("##fileformat=VCFv4.1\n", "Could not find the '#CHROM' header line in the header file."),
        (f"{HEADER_COLS}\n", "Expected sample IDs after the first 9 columns, but found none."),
    ):
        header.write_text(text)
        with pytest.raises(ValueError) as exc:
            transform_1k_files(spark, _listing(spark), str(header), meta)
        assert str(exc.value) == message


def test_transform_1k_files_document_references_in_listing_order(spark, tmp_path):
    """The reference builds ``{id: doc}`` in FTP listing order
    (document_references.py:155-248), so DocumentReference.ndjson lists the
    files as the listing does — at shuffle partitions 8 and 16 alike, with
    partition coalescing off so a hash-ordered shuffle cannot hide."""
    from fhir_etl_spark.pipelines.onekg import transform_1k_files

    names = [f"ALL.chr{(i * 17) % 44}.part{i:02d}.vcf.gz" for i in range(44)]
    listing = spark.createDataFrame(
        [(name, 100 + i, "2014-09-12T14:21:07") for i, name in enumerate(names)],
        "file string, size bigint, last_modified string",
    )
    header = tmp_path / "header"
    header.write_text(f"{HEADER_COLS}\tHG00096\n")
    stage1 = _onekg_meta(spark, tmp_path)
    written = []
    for partitions in (8, 16):
        meta = str(tmp_path / f"p{partitions}")
        shutil.copytree(stage1, meta)
        with _conf(spark, **{"spark.sql.shuffle.partitions": str(partitions),
                             "spark.sql.adaptive.coalescePartitions.enabled": "false"}):
            transform_1k_files(spark, listing, str(header), meta)
        written.append(_read(f"{meta}/DocumentReference.ndjson"))
    docs = [json.loads(line) for line in written[0].splitlines()]
    assert [d["identifier"][0]["value"] for d in docs] == names
    assert written[0] == written[1]


def test_transform_1k_jobs_carry_the_callers_job_group(spark, tmp_path):
    """Every job the concurrent writes start is in the caller's job group,
    so a caller can name, count and cancel a stage's jobs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("transform_1k-test", "transform_1k")
    try:
        _onekg_meta(spark, tmp_path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    assert len(tracker.getJobIdsForGroup("transform_1k-test")) >= 4


def test_stage_raises_a_failed_write_after_the_others(spark, tmp_path, monkeypatch):
    """A write that fails does not stop the stage's other writes: they
    complete, then its error is raised, and no staging directory is left."""
    from fhir_etl_spark.pipelines import onekg

    fhirize = onekg.fhirize_specimen_1kg

    def failing(sample_info):
        resources = fhirize(sample_info)
        return resources.withColumn("resource", F.when(
            F.col("resource").isNotNull(), F.raise_error(F.lit("specimen write failed"))
        ).otherwise(F.col("resource")))

    monkeypatch.setattr(onekg, "fhirize_specimen_1kg", failing)
    with pytest.raises(Exception, match="specimen write failed"):
        _onekg_meta(spark, tmp_path)
    meta = tmp_path / "meta"
    assert sorted(p.name for p in meta.iterdir()) == [
        "Patient.ndjson", "ResearchStudy.ndjson", "ResearchSubject.ndjson"
    ]
