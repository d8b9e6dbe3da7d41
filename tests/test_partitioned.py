"""Hive-partitioned sink: partition pruning in the scan plan, dynamic
partition overwrite semantics, small-file discipline."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from fhir_etl_spark.sinks.partitioned import write_partitioned


def _events(spark, sf_dir):
    from fhir_etl_spark.session import load_tables

    return load_tables(spark, sf_dir, "events")


def test_write_and_partition_pruned_read(spark, sf_dir, tmp_path):
    """A filtered read of a partitioned table carries the filter as a
    PartitionFilter (directory-level pruning), not a data filter, and
    only the matching partition directories exist on disk."""
    events = _events(spark, sf_dir)
    dest = str(tmp_path / "events_by_type")
    write_partitioned(events, dest, ["event_type"])

    types = [r[0] for r in events.select("event_type").distinct().collect()]
    dirs = {d for d in os.listdir(dest) if d.startswith("event_type=")}
    assert dirs == {f"event_type={t}" for t in types}

    back = spark.read.parquet(dest)
    assert back.count() == events.count()

    pruned = back.filter(F.col("event_type") == types[0])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "event_type" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0], plan
    assert (
        pruned.count()
        == events.filter(F.col("event_type") == types[0]).count()
    )


def test_dynamic_overwrite_touches_only_present_partitions(spark, tmp_path):
    """Re-writing a slice replaces only its own partitions; static mode
    would drop the rest of the table."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "c")], "id long, part string"
    )
    dest = str(tmp_path / "tbl")
    write_partitioned(df, dest, ["part"])

    patch = spark.createDataFrame([(99, "a")], "id long, part string")
    write_partitioned(patch, dest, ["part"])  # dynamic: only part=a replaced

    out = {(r["id"], r["part"]) for r in spark.read.parquet(dest).collect()}
    assert out == {(99, "a"), (3, "b"), (4, "c")}


def test_small_file_discipline(spark, tmp_path):
    """The pre-write repartition keeps files-per-partition bounded by the
    tasks that hold each partition's data — not by shuffle-partition
    count × partition count."""
    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("part")
    )
    dest = str(tmp_path / "few_files")
    write_partitioned(df, dest, ["part"])
    for d in os.listdir(dest):
        if not d.startswith("part="):
            continue
        n_files = len(
            [f for f in os.listdir(os.path.join(dest, d)) if f.startswith("part-")]
        )
        assert n_files <= 2, f"{d}: {n_files} files"


def test_validation_errors(spark):
    df = spark.createDataFrame([(1, "a")], "id long, part string")
    import pytest

    with pytest.raises(ValueError, match="non-empty"):
        write_partitioned(df, "/tmp/x", [])
    with pytest.raises(ValueError, match="not in DataFrame"):
        write_partitioned(df, "/tmp/x", ["nope"])


def test_cli_partition_verb(spark, tmp_path, capsys):
    """CLI plumbing for the partitioned sink, incl. the src==dest guard."""
    import pytest

    from fhir_etl_spark import cli

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, part string"
    ).write.parquet(src)
    dest = str(tmp_path / "dest")
    assert cli.main(["partition", "--src", src, "--dest", dest, "--cols", "part"]) == 0
    assert {d for d in os.listdir(dest) if d.startswith("part=")} == {
        "part=a", "part=b"
    }
    with pytest.raises(SystemExit) as exc:
        cli.main(["partition", "--src", src, "--dest", src, "--cols", "part"])
    assert exc.value.code == 2
    assert "partition: --dest must differ from --src" in capsys.readouterr().err
