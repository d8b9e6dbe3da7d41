"""Hive-style partitioned parquet sink with dynamic partition overwrite.

The second leg of the scan-pruning story (alongside Z-order clustering,
operators/layout.py): coarse categorical/temporal columns become
directory levels, so a filtered read never lists — let alone scans —
non-matching partitions (``PartitionFilters`` in the scan node, pinned
by test_partitioned).

Reference note: the reference writes one flat NDJSON file per resource
type (utils.py:101-135); partitioned layout is the engine's scale
extension for the same outputs (e.g. partition DocumentReferences by
study, events by day).

Scale contract:
- **Dynamic overwrite** (``partitionOverwriteMode=dynamic``): an
  incremental job overwrites ONLY the partitions present in its input —
  the idempotent re-run/backfill primitive. Static overwrite (the Spark
  default) would silently delete every other partition of the table.
- **Small-file control**: data is repartitioned on the partition columns
  first, so each Hive partition is written by as few tasks as hold its
  data (otherwise every one of N shuffle partitions can open a file in
  every Hive partition — N×P tiny files at 100 TB);
  ``maxRecordsPerFile`` caps the other direction (one huge skewed
  partition file).
- Partition columns must be LOW cardinality (thousands, not millions):
  each value is a filesystem directory; high-cardinality keys belong in
  bucketing or Z-order instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | tuple[str, ...],
    mode: str = "overwrite",
    dynamic: bool = True,
    max_records_per_file: int | None = None,
) -> None:
    """Write ``df`` as hive-partitioned parquet under ``path``.

    ``dynamic=True`` + ``mode='overwrite'`` replaces only the partitions
    present in ``df`` (set per-write via the DataFrameWriter option, not
    session-wide — concurrent writers keep their own semantics).
    """
    if not partition_cols:
        raise ValueError("partition_cols must be non-empty")
    missing = set(partition_cols) - set(df.columns)
    if missing:
        raise ValueError(f"partition columns not in DataFrame: {sorted(missing)}")

    writer = (
        df.repartition(*partition_cols)
        .write.mode(mode)
        .option(
            "partitionOverwriteMode", "dynamic" if dynamic else "static"
        )
    )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy(*partition_cols).parquet(path)
