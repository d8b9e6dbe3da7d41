"""CLI — the reference's three entry points (cli.py:17-65: ``transform -p
{1kgenomes,gtex}`` and ``validate --path DIR``) over the Spark pipelines.

The reference fetches sources inline over the network; this CLI stages any
URL input into the bronze zone first (sources/stage.py) and then reads the
staged copy (SURVEY.md §4.4) so runs are reproducible and restartable.
Pass ``--sample-info`` / ``--annotations`` as either a local path or an
https:// URL (the reference's own source URLs, quoted in
sources/stage.py's docstring, are the ones to reach for).
argparse, not click — zero extra dependencies.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys


def _build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(prog="fhir_etl_spark")
    sub = parser.add_subparsers(dest="command", required=True)

    t = sub.add_parser("transform", help="run a cohort pipeline over staged inputs")
    t.add_argument("-p", "--pipeline", choices=["1kgenomes", "gtex"], required=True)
    t.add_argument("--meta-dir", required=True, help="output META directory")
    t.add_argument(
        "--bronze-dir",
        default="bronze",
        help="staging directory for URL inputs (default: ./bronze)",
    )
    t.add_argument("--sample-info", help="1KG: sample_info TSV (path or URL)")
    t.add_argument("--ftp-listing", help="1KG: staged FTP listing JSON (sources/ftp fixture format)")
    t.add_argument("--vcf-header", help="1KG: staged VCF header file")
    t.add_argument("--subjects", help="GTEx: staged subject pages dir (sources/rest fixture format)")
    t.add_argument("--samples", help="GTEx: staged sample pages dir")
    t.add_argument("--filelist", help="GTEx: staged fileList JSON (one document)")
    t.add_argument("--annotations", help="GTEx: SampleAttributesDS TSV (path or URL)")

    v = sub.add_parser("validate", help="validate NDJSON resources in a directory")
    v.add_argument("--path", required=True)

    c = sub.add_parser(
        "compact", help="rewrite a parquet directory into ~target-size files"
    )
    c.add_argument("--src", required=True)
    c.add_argument("--dest", required=True)
    c.add_argument("--target-mb", type=int, default=128)
    c.add_argument(
        "--sort-cols",
        help="comma-separated: range-partition + sort instead of round-robin",
    )

    z = sub.add_parser(
        "zorder", help="rewrite a parquet directory clustered on a Z-order curve"
    )
    z.add_argument("--src", required=True)
    z.add_argument("--dest", required=True)
    z.add_argument("--cols", required=True, help="comma-separated cluster columns")
    z.add_argument("--partitions", type=int, default=None)

    p = sub.add_parser(
        "partition",
        help="rewrite a parquet directory as a hive-partitioned table "
        "(dynamic partition overwrite)",
    )
    p.add_argument("--src", required=True)
    p.add_argument("--dest", required=True)
    p.add_argument("--cols", required=True, help="comma-separated partition columns")
    p.add_argument("--max-records-per-file", type=int, default=None)
    return parser


_PIPELINE_INPUTS = {
    "1kgenomes": ("sample_info",),
    "gtex": ("subjects", "samples", "filelist", "annotations"),
}


def main(argv: list[str] | None = None) -> int:
    parser = _build_parser()
    args = parser.parse_args(argv)

    if args.command == "transform":
        missing = [
            "--" + name.replace("_", "-")
            for name in _PIPELINE_INPUTS[args.pipeline]
            if not getattr(args, name)
        ]
        if missing:
            parser.error(f"transform -p {args.pipeline}: {', '.join(missing)} required")

    if args.command == "validate" and not glob.glob(os.path.join(args.path, "*.ndjson")):
        parser.error(f"validate: no *.ndjson files under --path {args.path!r}")

    if args.command in ("compact", "zorder", "partition"):
        # both verbs overwrite --dest while LAZILY reading --src: the same
        # path for both would delete the source mid-read ("never rewrite
        # in place" — operators/maintenance.compact docstring)
        if os.path.realpath(args.src) == os.path.realpath(args.dest):
            parser.error(
                f"{args.command}: --dest must differ from --src "
                f"({args.src!r}): the rewrite overwrites dest while src is "
                "still being read lazily"
            )

    from fhir_etl_spark.session import get_spark

    spark = get_spark("fhir_etl_spark_cli")

    if args.command == "compact":
        from fhir_etl_spark.operators.maintenance import compact

        sort_cols = args.sort_cols.split(",") if args.sort_cols else None
        plan = compact(
            spark, args.src, args.dest,
            target_bytes=args.target_mb * 1024 * 1024, sort_cols=sort_cols,
        )
        print(json.dumps({
            "files_before": plan.n_files, "bytes": plan.total_bytes,
            "files_after": plan.target_partitions,
        }))
        return 0

    if args.command == "zorder":
        from fhir_etl_spark.operators.layout import zorder_layout

        df = spark.read.parquet(args.src)
        zorder_layout(
            df, args.cols.split(","), num_partitions=args.partitions
        ).write.mode("overwrite").parquet(args.dest)
        print(json.dumps({"rows": spark.read.parquet(args.dest).count()}))
        return 0

    if args.command == "partition":
        from fhir_etl_spark.sinks.partitioned import write_partitioned

        df = spark.read.parquet(args.src)
        write_partitioned(
            df, args.dest, args.cols.split(","),
            max_records_per_file=args.max_records_per_file,
        )
        print(json.dumps({"rows": spark.read.parquet(args.dest).count()}))
        return 0

    if args.command == "validate":
        from fhir_etl_spark.operators.validate import validate_dir

        result = validate_dir(spark, args.path)
        print(json.dumps({"summary": result.summary}))
        for row in result.errors.limit(100).collect():
            print(f"ERROR {row['path']}: {row['error']}: {row['raw'][:200]}", file=sys.stderr)
        return 0 if result.ok else 1

    from fhir_etl_spark.sources.stage import stage_if_url

    if args.pipeline == "1kgenomes":
        from fhir_etl_spark.pipelines.onekg import transform_1k, transform_1k_files

        sample_info = stage_if_url(args.sample_info, args.bronze_dir)
        transform_1k(spark, sample_info, args.meta_dir)
        if args.ftp_listing and args.vcf_header:
            from fhir_etl_spark.sources.ftp import FtpListingDataSource

            spark.dataSource.register(FtpListingDataSource)
            listing = (
                spark.read.format("ftp_listing")
                .option("fixture_json", args.ftp_listing)
                .load()
            )
            counts = transform_1k_files(spark, listing, args.vcf_header, args.meta_dir)
            print(json.dumps(counts))
        return 0

    # gtex
    from fhir_etl_spark.pipelines.gtex import transform_gtex
    from fhir_etl_spark.schemas.inputs import GTEX_FILELIST, GTEX_SAMPLE, GTEX_SUBJECT
    from fhir_etl_spark.sources.rest import PaginatedRestDataSource

    spark.dataSource.register(PaginatedRestDataSource)
    subjects = (
        spark.read.format("paginated_rest")
        .option("fixture_dir", args.subjects)
        .option("fields", ",".join(f.name for f in GTEX_SUBJECT.fields))
        .load()
    )
    samples = (
        spark.read.format("paginated_rest")
        .option("fixture_dir", args.samples)
        .option("fields", ",".join(f.name for f in GTEX_SAMPLE.fields))
        .load()
    )
    filelist = spark.read.schema(GTEX_FILELIST).json(args.filelist)
    annotations_path = stage_if_url(args.annotations, args.bronze_dir)
    annotations = (
        spark.read.option("sep", "\t").option("header", True).csv(annotations_path)
    )
    transform_gtex(spark, subjects, samples, filelist, annotations, args.meta_dir)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
