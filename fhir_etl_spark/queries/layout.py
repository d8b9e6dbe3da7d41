"""Storage-layout inventory: Z-order curve values (operators/layout.py).

The z-value computation is integer-exact (div-scaling + bit interleave),
so DuckDB can reproduce it bit-for-bit — the layout op's math gets a full
value-hash oracle even though the *physical* effect (file clustering) is
asserted separately in tests/test_layout.py via parquet footer stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fhir_etl_spark.operators.layout import zorder_key
from fhir_etl_spark.queries.registry import query
from fhir_etl_spark.session import load_tables

_BITS = 8
_BUCKETS = 1 << _BITS


def _interleave_sql(axes: list[str], bits: int) -> str:
    n = len(axes)
    terms = [
        f"((({axis} >> {bit}) & 1) << {bit * n + j})"
        for bit in range(bits)
        for j, axis in enumerate(axes)
    ]
    return " + ".join(terms)


@query(
    "y1_zorder_curve",
    oracle=f"""
    WITH stats AS (
      SELECT CAST(min(l_partkey) AS BIGINT) AS pmin,
             CAST(max(l_partkey) AS BIGINT) AS pmax,
             CAST(min(l_suppkey) AS BIGINT) AS smin,
             CAST(max(l_suppkey) AS BIGINT) AS smax
      FROM lineitem
    ), scaled AS (
      SELECT l_orderkey, l_linenumber,
             ((CAST(l_partkey AS BIGINT) - pmin) * {_BUCKETS}) // (pmax - pmin + 1) AS sx,
             ((CAST(l_suppkey AS BIGINT) - smin) * {_BUCKETS}) // (smax - smin + 1) AS sy
      FROM lineitem, stats
    )
    SELECT l_orderkey, l_linenumber,
           CAST({_interleave_sql(["sx", "sy"], _BITS)} AS BIGINT) AS zval
    FROM scaled
    """,
    tags=("layout", "zorder"),
)
def y1_zorder_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-values over (l_partkey, l_suppkey): the clustering key
    behind zorder_layout, checked value-exactly against the oracle."""
    lineitem = load_tables(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    return zorder_key(lineitem, ["l_partkey", "l_suppkey"], bits=_BITS).selectExpr(
        "l_orderkey", "l_linenumber", "_zvalue AS zval"
    )


@query(
    "y2_time_travel_diff",
    oracle="""
    WITH v0 AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 5 <> 0
    ), v1 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 50.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 9 <> 0
    )
    SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'insert'
                WHEN b.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS op,
           a.o_totalprice AS old_o_totalprice,
           b.o_totalprice AS new_o_totalprice
    FROM v0 a FULL OUTER JOIN v1 b ON a.o_orderkey = b.o_orderkey
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR a.o_totalprice IS DISTINCT FROM b.o_totalprice
    """,
    tags=("layout", "versioned", "cdc"),
)
def y2_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot-versioned table format exercised END-TO-END through
    the driver gate (previously test-pinned only): two deterministic
    orders snapshots committed as versions 0 and 1 of a versioned table
    (sinks/versioned.py — immutable data dirs, atomic hard-link
    manifests), both read back BY VERSION (time travel), and diffed with
    the CDC operator (operators/merge.snapshot_diff). A broken manifest
    walk, non-isolated overwrite, or wrong pinned file list changes the
    changeset and breaks the oracle, which replays the two snapshot
    definitions directly from the source table."""
    import atexit
    import os
    import shutil

    from fhir_etl_spark.operators.merge import snapshot_diff
    from fhir_etl_spark.sinks.versioned import read_snapshot, write_snapshot

    orders = load_tables(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    # pid-scoped path: two processes running y2 concurrently (pytest +
    # bench, CI shards) must not rmtree each other's live table
    table = (
        "/tmp/fhir_etl_spark_versioned/"
        f"{os.path.basename(sf_dir.rstrip('/'))}-{os.getpid()}/orders_y2"
    )
    shutil.rmtree(table, ignore_errors=True)  # deterministic rebuild
    # pid-scoped dirs almost never recur — without this the table leaks
    # per process run (round-6 review finding)
    atexit.register(shutil.rmtree, os.path.dirname(table), ignore_errors=True)
    v0 = write_snapshot(
        orders.filter(F.col("o_orderkey") % 5 != 0), table, mode="overwrite"
    )
    v1 = write_snapshot(
        orders.filter(F.col("o_orderkey") % 9 != 0).withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 2 == 0, F.col("o_totalprice") + 50.0
            ).otherwise(F.col("o_totalprice")),
        ),
        table,
        mode="overwrite",
    )
    old = read_snapshot(spark, table, version=v0)
    new = read_snapshot(spark, table, version=v1)
    return snapshot_diff(old, new, on="o_orderkey")


def _hilbert_sql(bits: int) -> str:
    """CTE chain replaying hilbert_key's unrolled xy2d walk level by
    level (same rotate/reflect rule, same per-level quadrant term), from
    a ``lvl{bits}`` CTE providing (l_orderkey, l_linenumber, hx, hy, hd)."""
    parts = []
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        src = f"lvl{level + 1}"
        parts.append(f"""
    lvl{level} AS (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN hry = 1 THEN hx
                  WHEN hrx = 0 THEN hy
                  ELSE {s - 1} - hy END AS hx,
             CASE WHEN hry = 1 THEN hy
                  WHEN hrx = 0 THEN hx
                  ELSE {s - 1} - hx END AS hy,
             hd + {s * s} * xor(3 * hrx, hry) AS hd
      FROM (SELECT *,
                   CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END AS hrx,
                   CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END AS hry
            FROM {src})
    )""")
    return ",".join(parts)


@query(
    "y3_hilbert_curve",
    oracle=f"""
    WITH stats AS (
      SELECT CAST(min(l_partkey) AS BIGINT) AS pmin,
             CAST(max(l_partkey) AS BIGINT) AS pmax,
             CAST(min(l_suppkey) AS BIGINT) AS smin,
             CAST(max(l_suppkey) AS BIGINT) AS smax
      FROM lineitem
    ), lvl{_BITS} AS (
      SELECT l_orderkey, l_linenumber,
             ((CAST(l_partkey AS BIGINT) - pmin) * {_BUCKETS}) // (pmax - pmin + 1) AS hx,
             ((CAST(l_suppkey AS BIGINT) - smin) * {_BUCKETS}) // (smax - smin + 1) AS hy,
             CAST(0 AS BIGINT) AS hd
      FROM lineitem, stats
    ),{_hilbert_sql(_BITS)}
    SELECT l_orderkey, l_linenumber, CAST(hd AS BIGINT) AS hval
    FROM lvl0
    """,
    tags=("layout", "hilbert"),
)
def y3_hilbert_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve values over (l_partkey, l_suppkey): the
    locality-upgraded alternative to the Z-order key (unit-step curve —
    no Z-order diagonal jumps), its unrolled rotate/reflect walk
    replayed level-for-level by the oracle."""
    from fhir_etl_spark.operators.layout import hilbert_key

    lineitem = load_tables(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    return hilbert_key(lineitem, ["l_partkey", "l_suppkey"], bits=_BITS).selectExpr(
        "l_orderkey", "l_linenumber", "_hvalue AS hval"
    )


@query(
    "y4_compaction",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    """,
    tags=("layout", "versioned", "maintenance"),
)
def y4_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction exercised end to end through the driver
    gate: orders is committed as 8 single-slice appends (each slice
    written as multiple small files), the head is compacted
    (sinks/versioned.compact_snapshot — rewrite as few size-targeted
    files, committed as a normal overwrite snapshot), and the COMPACTED
    head is read back. The oracle is the full source table: compaction
    must change file layout and NOTHING else — a lost slice, duplicated
    directory, or schema drift hash-mismatches. File-count reduction and
    the no-op path are pinned in tests/test_versioned.py."""
    import atexit
    import os
    import shutil

    from fhir_etl_spark.sinks.versioned import (
        compact_snapshot,
        read_snapshot,
        write_snapshot,
    )

    orders = load_tables(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    table = (
        "/tmp/fhir_etl_spark_versioned/"
        f"{os.path.basename(sf_dir.rstrip('/'))}-{os.getpid()}/orders_y4"
    )
    shutil.rmtree(table, ignore_errors=True)
    atexit.register(shutil.rmtree, os.path.dirname(table), ignore_errors=True)
    for i in range(8):
        write_snapshot(
            orders.filter(F.col("o_orderkey") % 8 == i).repartition(4),
            table,
            mode="append" if i else "overwrite",
        )
    stats = compact_snapshot(spark, table, target_file_bytes=64 * 1024 * 1024)
    assert stats["compacted"] and stats["files_after"] < stats["files_before"]
    return read_snapshot(spark, table, stats["version"])
