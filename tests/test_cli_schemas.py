"""CLI + typed-schema round-trip."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F


def _stage_onekg_inputs(staged):
    """The three staged 1KG inputs: sample_info TSV, FTP listing, VCF header."""
    tsv = staged / "sample_info.tsv"
    tsv.write_text(
        "Sample\tGender\tPopulation Description\tPopulation\tDNA Source from Coriell\tMain project LC platform\n"
        "HG00096\tmale\tBritish\tGBR\t\tILLUMINA\n"
        "HG00097\tfemale\tBritish\tGBR\tLCL\t\n"
    )
    listing = staged / "listing.json"
    listing.write_text(
        json.dumps(
            {
                "ALL.chr1.x.vcf.gz": {"size": 100, "mdtm": "213 20140912142107"},
                "README": {"size": 1, "mdtm": "213 20140101000000"},
            }
        )
    )
    header = staged / "header"
    header.write_text("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tHG00096\tZZZ\n")
    return ["--sample-info", str(tsv), "--ftp-listing", str(listing), "--vcf-header", str(header)]


@pytest.fixture(scope="module")
def onekg_meta(spark, tmp_path_factory):
    """A small end-to-end 1KG run through the CLI code path."""
    from fhir_etl_spark import cli

    inputs = _stage_onekg_inputs(tmp_path_factory.mktemp("cli_staged"))
    meta = tmp_path_factory.mktemp("cli_meta")
    rc = cli.main(["transform", "-p", "1kgenomes", "--meta-dir", str(meta), *inputs])
    assert rc == 0
    return meta


def test_cli_transform_then_validate(onekg_meta):
    from fhir_etl_spark import cli

    assert cli.main(["validate", "--path", str(onekg_meta)]) == 0


def test_structural_roundtrip_on_pipeline_output(spark, onekg_meta):
    from fhir_etl_spark.operators.validate import structural_roundtrip

    for rtype in ["Patient", "Specimen", "ResearchSubject", "ResearchStudy", "Group", "DocumentReference"]:
        out = structural_roundtrip(spark, f"{onekg_meta}/{rtype}.ndjson", rtype)
        rows = out.collect()
        assert rows and all(r["structurally_valid"] for r in rows), rtype


def test_structural_roundtrip_catches_shape_drift(spark, tmp_path):
    bad = tmp_path / "Patient.ndjson"
    bad.write_text('{"resourceType": "Group", "id": "x"}\n')
    from fhir_etl_spark.operators.validate import structural_roundtrip

    rows = structural_roundtrip(spark, str(bad), "Patient").collect()
    assert not rows[0]["structurally_valid"]


def test_cli_transform_runs_outside_the_repo(tmp_path):
    """The CLI from a working directory outside the source tree, with the
    package importable only through the driver's sys.path: the Python
    workers that run the FTP listing source must still import the package."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    import fhir_etl_spark

    src_root = str(Path(fhir_etl_spark.__file__).resolve().parent.parent)
    inputs = _stage_onekg_inputs(tmp_path)
    meta = tmp_path / "meta"
    script = (
        "import sys\n"
        f"sys.path.insert(0, {src_root!r})\n"
        "from fhir_etl_spark import cli\n"
        f"sys.exit(cli.main({['transform', '-p', '1kgenomes', '--meta-dir', str(meta), *inputs]!r}))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == {
        "header_ids": 2, "found": 1, "missing": 1,
    }
    assert (meta / "DocumentReference.ndjson").read_text().count("\n") == 1

def test_stage_https_file_url(tmp_path):
    """stage_https over a file:// URL: idempotent, atomic, checksum-pinned —
    the offline twin of the reference's two wire reads
    (oneKg_fhirizer.py:216, gtex_fhirizer.py:90)."""
    import hashlib

    from fhir_etl_spark.sources.stage import is_url, stage_https, stage_if_url

    src = tmp_path / "src" / "20130606_sample_info.txt"
    src.parent.mkdir()
    src.write_text("Sample\tGender\nHG1\tmale\n")
    url = src.as_uri()
    bronze = tmp_path / "bronze"

    staged = stage_https(url, str(bronze))
    assert staged == str(bronze / "20130606_sample_info.txt")
    assert open(staged).read() == src.read_text()

    # idempotent: second call returns without refetch even if source changed
    src.write_text("changed")
    assert open(stage_https(url, str(bronze))).read().startswith("Sample")
    # overwrite refetches
    assert open(stage_https(url, str(bronze), overwrite=True)).read() == "changed"

    # checksum pin: wrong digest raises and leaves no partial file
    with pytest.raises(ValueError, match="checksum"):
        stage_https(url, str(bronze), filename="pinned.txt", sha256="0" * 64)
    assert not (bronze / "pinned.txt").exists()
    good = hashlib.sha256(b"changed").hexdigest()
    assert open(stage_https(url, str(bronze), filename="pinned.txt", sha256=good)).read() == "changed"

    # pass-through for local paths
    assert stage_if_url(str(src), str(bronze)) == str(src)
    assert is_url(url) and not is_url(str(src))


def test_cli_stages_url_input(spark, tmp_path):
    """The CLI accepts a URL for --sample-info and stages it into
    --bronze-dir before running the pipeline (S1 live-fetch staging)."""
    from fhir_etl_spark import cli

    tsv = tmp_path / "sample_info.tsv"
    tsv.write_text(
        "Sample\tGender\tPopulation Description\tPopulation\tDNA Source from Coriell\tMain project LC platform\n"
        "HG00096\tmale\tBritish\tGBR\t\tILLUMINA\n"
    )
    meta = tmp_path / "meta"
    bronze = tmp_path / "bronze"
    rc = cli.main(
        [
            "transform",
            "-p",
            "1kgenomes",
            "--meta-dir",
            str(meta),
            "--bronze-dir",
            str(bronze),
            "--sample-info",
            tsv.as_uri(),
        ]
    )
    assert rc == 0
    assert (bronze / "sample_info.tsv").exists()
    assert (meta / "Patient.ndjson").exists()


def test_entry_exposes_each_registered_query_exactly_once():
    """Round-8 contract (VERDICT r07 #2 — rotation retired PERMANENTLY):
    ``queries()`` = the base registry verbatim, sorted by name, one entry
    per registered query, with NO ``a0_``-prefixed alias ever again;
    ``oracle_sql()`` covers exactly the names carrying a value oracle.
    COVERAGE_ROTATION must stay empty — its job (earning a driver
    CORRECTNESS row for every query) completed in round 7."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    qs, osql = mod.queries(), mod.oracle_sql()
    from fhir_etl_spark.queries import all_queries

    registry = all_queries()
    assert mod.COVERAGE_ROTATION == [], "rotation is retired; must stay empty"
    assert not any(n.startswith("a0_") for n in qs), "no rotation aliases"
    assert not any(n.startswith("a0_") for n in osql), "no rotation aliases"
    assert list(qs) == sorted(registry), "queries() must be the sorted registry"
    for name, qd in registry.items():
        assert qs[name] is qd.fn, name
        assert (name in osql) == (qd.oracle is not None), name
        if qd.oracle is not None:
            assert osql[name] == qd.oracle, name


def test_cli_compact_and_zorder(spark, sf_dir, tmp_path):
    import glob

    from fhir_etl_spark import cli
    from fhir_etl_spark.session import load_tables

    src = str(tmp_path / "src")
    load_tables(spark, sf_dir, "lineitem").repartition(16).write.parquet(src)

    dest_c = str(tmp_path / "compacted")
    assert cli.main(["compact", "--src", src, "--dest", dest_c, "--target-mb", "1"]) == 0
    assert len(glob.glob(f"{dest_c}/*.parquet")) < 16

    dest_z = str(tmp_path / "zordered")
    assert cli.main([
        "zorder", "--src", src, "--dest", dest_z,
        "--cols", "l_partkey,l_suppkey", "--partitions", "8",
    ]) == 0
    assert spark.read.parquet(dest_z).count() == spark.read.parquet(src).count()


def test_cli_compact_zorder_reject_in_place_rewrite(tmp_path, monkeypatch, capsys):
    """compact/zorder overwrite --dest while lazily reading --src: the
    same (normalized) path for both would delete the source mid-read, so
    the CLI must refuse with a usage error (exit 2, message on stderr)
    before any Spark session starts."""
    import pytest

    from fhir_etl_spark import cli, session

    def no_session(*args, **kwargs):
        raise AssertionError("a Spark session was requested")

    monkeypatch.setattr(session, "get_spark", no_session)
    src = str(tmp_path / "data")
    alias = str(tmp_path / "x" / ".." / "data")  # same path, unnormalized
    for argv in (
        ["compact", "--src", src, "--dest", src],
        ["zorder", "--src", src, "--dest", alias, "--cols", "a"],
    ):
        with pytest.raises(SystemExit) as exc:
            cli.main(argv)
        assert exc.value.code == 2
        assert f"{argv[0]}: --dest must differ from --src" in capsys.readouterr().err


@pytest.mark.parametrize(
    "pipeline, message",
    [
        ("gtex", "--subjects, --samples, --filelist, --annotations required"),
        ("1kgenomes", "--sample-info required"),
    ],
    ids=["gtex", "1kgenomes"],
)
def test_cli_transform_missing_inputs_is_a_usage_error(
    pipeline, message, tmp_path, monkeypatch, capsys
):
    """A transform without its pipeline's inputs is an argument error
    (exit 2, message on stderr), checked before any Spark session starts
    — not an assert that ``python -O`` strips."""
    from fhir_etl_spark import cli, session

    def no_session(*args, **kwargs):
        raise AssertionError("a Spark session was requested")

    monkeypatch.setattr(session, "get_spark", no_session)
    with pytest.raises(SystemExit) as exc:
        cli.main(["transform", "-p", pipeline, "--meta-dir", str(tmp_path / "meta")])
    assert exc.value.code == 2
    err = capsys.readouterr().err
    assert f"transform -p {pipeline}: {message}" in err


def test_cli_validate_without_ndjson_is_a_usage_error(tmp_path, monkeypatch, capsys):
    """``validate --path`` on a directory with no ``*.ndjson`` is an argument
    error (exit 2, message on stderr) before any Spark session starts — not
    a traceback from inside the validator."""
    from fhir_etl_spark import cli, session

    def no_session(*args, **kwargs):
        raise AssertionError("a Spark session was requested")

    monkeypatch.setattr(session, "get_spark", no_session)
    (tmp_path / "notes.txt").write_text("not a resource file\n")
    for path in (tmp_path, tmp_path / "absent"):
        with pytest.raises(SystemExit) as exc:
            cli.main(["validate", "--path", str(path)])
        assert exc.value.code == 2
        assert "validate: no *.ndjson files under --path" in capsys.readouterr().err
