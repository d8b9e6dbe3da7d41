"""Table maintenance: file-level stats and small-file compaction.

A 100 TB table accumulates small files from incremental appends and
upserts (sinks/upsert.py — the reference's create_or_extend rewrites one
NDJSON file per run, `utils.py:101-135`, which at scale becomes millions
of tiny objects). Small files kill scan throughput (per-file open cost, tiny row
groups, starved vectorized readers) and planner quality (one task per
file). Compaction rewrites a directory into ~``target_bytes`` files.

All sizing comes from the filesystem's own metadata via Hadoop's
FileSystem API (works unchanged on HDFS / S3A / local), not a data scan;
the rewrite itself is one round-robin repartition — no shuffle key, so
the exchange is a cheap rebalance, and an optional sort restores a
clustered layout (compose with operators/layout.zorder_layout when the
table should stay multi-dimensionally clustered)."""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class CompactionPlan:
    n_files: int
    total_bytes: int
    avg_file_bytes: int
    target_partitions: int


def _list_data_files(spark: SparkSession, path: str, suffix: str):
    """(path, size) of data files under ``path`` via Hadoop FileSystem —
    FS metadata only, no data read; FS-agnostic (local/HDFS/S3A)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        status = it.next()
        name = status.getPath().getName()
        if name.endswith(suffix) and not name.startswith(("_", ".")):
            out.append((status.getPath().toString(), status.getLen()))
    return out

def plan_compaction(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    suffix: str = ".parquet",
) -> CompactionPlan:
    files = _list_data_files(spark, path, suffix)
    total = sum(size for _, size in files)
    n = len(files)
    return CompactionPlan(
        n_files=n,
        total_bytes=total,
        avg_file_bytes=total // n if n else 0,
        target_partitions=max(1, math.ceil(total / target_bytes)),
    )


def compact(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> CompactionPlan:
    """Rewrite ``src_path`` into ``dest_path`` with ~``target_bytes``
    files. Writes to a NEW directory (atomic swap is the caller's /
    table-format's job — never rewrite in place on an object store).

    Returns the plan that was executed (file count before, target after).
    """
    plan = plan_compaction(spark, src_path, target_bytes)
    df: DataFrame = spark.read.parquet(src_path)
    if sort_cols:
        out = df.repartitionByRange(plan.target_partitions, *sort_cols)
        out = out.sortWithinPartitions(*sort_cols)
    else:
        out = df.repartition(plan.target_partitions)
    out.write.mode("overwrite").parquet(dest_path)
    return plan
