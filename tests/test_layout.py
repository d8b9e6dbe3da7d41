"""Z-order layout: value correctness (vs oracle, via test_oracle) and the
PHYSICAL claim — clustered files carry narrow per-file min/max ranges on
every clustered column, which is what makes parquet row-group pruning
work on 100 TB scans."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fhir_etl_spark.operators.layout import zorder_key, zorder_layout
from fhir_etl_spark.session import load_tables

N_FILES = 16


def _file_spans(path: str, column: str) -> list[int]:
    """Per-file (max - min) width of `column` from parquet footer stats."""
    spans = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == column
            )
            st = col.statistics
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        spans.append(hi - lo)
    return spans


def test_zvalue_bounds_and_cardinality(spark, sf_dir):
    li = load_tables(spark, sf_dir, "lineitem")
    keyed = zorder_key(li, ["l_partkey", "l_suppkey"], bits=8)
    stats = keyed.agg(
        F.count("*").alias("n"),
        F.min("_zvalue").alias("lo"),
        F.max("_zvalue").alias("hi"),
    ).first()
    assert stats["n"] == li.count()
    assert 0 <= stats["lo"] <= stats["hi"] < (1 << 16)  # 2 cols x 8 bits


def test_zorder_files_prune_on_both_dimensions(spark, sf_dir, tmp_path):
    """After zorder_layout, every file covers a narrow range of BOTH
    clustered columns; a hash-random layout covers ~the full domain in
    every file (no pruning possible). Footer stats are the proof."""
    li = load_tables(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    zdir = str(tmp_path / "zorder")
    rdir = str(tmp_path / "random")
    zorder_layout(li, ["l_partkey", "l_suppkey"], num_partitions=N_FILES).write.mode(
        "overwrite"
    ).parquet(zdir)
    li.repartition(N_FILES).write.mode("overwrite").parquet(rdir)

    domain = {
        c: spark.read.parquet(rdir).agg(F.max(c) - F.min(c)).first()[0]
        for c in ("l_partkey", "l_suppkey")
    }
    for col in ("l_partkey", "l_suppkey"):
        z_spans = _file_spans(zdir, col)
        r_spans = _file_spans(rdir, col)
        assert len(z_spans) >= 8, "expected multiple output files"
        # random layout: every file spans ~the whole domain
        assert min(r_spans) > 0.8 * domain[col]
        # zorder: the average file spans a small fraction of it (measured
        # 0.41 / 0.25 for partkey/suppkey at 16 files; 0.5 gives headroom)
        z_avg = sum(z_spans) / len(z_spans)
        assert z_avg < 0.5 * domain[col], (col, z_spans, domain[col])

    # layout changes bytes on disk, never rows
    assert (
        spark.read.parquet(zdir).count()
        == spark.read.parquet(rdir).count()
        == li.count()
    )


@pytest.mark.parametrize("bits", [4, 8])
def test_zorder_handles_constant_and_null_columns(spark, bits):
    df = spark.range(100).select(
        F.col("id"),
        F.lit(7).alias("const"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id")).alias("holey"),
    )
    keyed = zorder_key(df, ["const", "holey"], bits=bits)
    got = keyed.agg(F.count("*"), F.min("_zvalue")).first()
    assert got[0] == 100 and got[1] >= 0


def test_zorder_rejects_curve_overflowing_bigint(spark):
    """bits × len(cols) > 63 would interleave into (or past) the BIGINT
    sign bit, silently corrupting the curve order — must raise instead."""
    df = spark.range(10).select(
        *[(F.col("id") * i).alias(f"c{i}") for i in range(8)]
    )
    with pytest.raises(ValueError, match="63"):
        zorder_key(df, [f"c{i}" for i in range(8)], bits=8)  # 64 bits
    # 7 cols × 8 bits = 56 still fine
    assert zorder_key(df, [f"c{i}" for i in range(7)], bits=8).count() == 10


def test_curve_bucketization_range_overflow_raises(spark):
    """Round-8 advice fix: a column whose (max - min) range exceeds
    (2^63-1)/buckets overflows the BIGINT product (c - min) * buckets —
    Spark WRAPS where DuckDB raises, so the curve key silently corrupts
    AND the value oracle would diverge instead of catching it. The
    denominator guard (computed in DECIMAL, overflow-proof even at the
    full int64 span) must raise at stats time; an in-range long column
    near the limit must still bucketize."""
    from fhir_etl_spark.operators.layout import hilbert_key

    bad = spark.createDataFrame(
        [(-(2**62), 0), (2**62, 1)], "x long, y long"
    )  # range 2^63 ≫ (2^63-1)/256 at bits=8
    with pytest.raises(Exception, match="overflow"):
        zorder_key(bad, ["x", "y"], bits=8).collect()
    with pytest.raises(Exception, match="overflow"):
        hilbert_key(bad, ["x", "y"], bits=8).collect()

    # just inside the guard: range == (2^63-1) div 256 buckets
    lim = (2**63 - 1) // 256
    ok = spark.createDataFrame([(0, 0), (lim, 1)], "x long, y long")
    keyed = zorder_key(ok, ["x", "y"], bits=8).collect()
    assert len(keyed) == 2 and all(r["_zvalue"] >= 0 for r in keyed)


def test_dynamic_partition_pruning_on_partitioned_write(spark, sf_dir, tmp_path):
    """Hive-partitioned layout + a filtered dim join plans a dynamic
    partition pruning subquery: only matching partitions are scanned —
    the partition-level sibling of the z-order row-group pruning."""
    from pyspark.sql import functions as F

    from fhir_etl_spark.session import load_tables

    pdir = str(tmp_path / "orders_by_status")
    orders = load_tables(spark, sf_dir, "orders")
    orders.write.partitionBy("o_orderstatus").parquet(pdir)

    fact = spark.read.parquet(pdir)
    dim = spark.createDataFrame([("F", "finished")], "st string, label string")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    joined = fact.join(dim.filter(F.col("label") == "finished"),
                       fact.o_orderstatus == dim.st)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    assert joined.count() == orders.filter("o_orderstatus = 'F'").count()


def test_hilbert_unit_step_bijection_and_locality(spark):
    """The properties that make a Hilbert index a Hilbert index: over the
    full 16x16 grid the key is a bijection onto 0..255 whose CONSECUTIVE
    values are 4-adjacent cells (Manhattan distance exactly 1 — Z-order
    provably fails this at every power-of-two boundary), and equal-width
    key ranges cover tighter bounding boxes than the same ranges of the
    Morton key (the locality win that shrinks parquet min/max spans)."""
    from fhir_etl_spark.operators.layout import hilbert_key, zorder_key

    n, bits = 16, 4
    grid = spark.createDataFrame(
        [(i, i % n, i // n) for i in range(n * n)], "id long, x long, y long"
    )
    hil = {
        (r["x"], r["y"]): r["_hvalue"]
        for r in hilbert_key(grid, ["x", "y"], bits=bits).collect()
    }
    assert sorted(hil.values()) == list(range(n * n))  # bijection
    by_d = sorted(hil, key=lambda c: hil[c])
    assert all(
        abs(a[0] - b[0]) + abs(a[1] - b[1]) == 1
        for a, b in zip(by_d, by_d[1:])
    )

    mor = {
        (r["x"], r["y"]): r["_zvalue"]
        for r in zorder_key(grid, ["x", "y"], bits=bits).collect()
    }

    # UNALIGNED range widths: at power-of-4-aligned widths both curves
    # tile perfect squares (area ties); real file boundaries are not
    # aligned, and there Hilbert's unit-step walk wins decisively
    # (measured 324/328/288 vs Morton's 508/536/480 at widths 12/20/24)
    def bbox_area_sum(index, width):
        total = 0
        cells = sorted(index, key=lambda c: index[c])
        for i in range(0, len(cells), width):
            chunk = cells[i : i + width]
            xs = [c[0] for c in chunk]
            ys = [c[1] for c in chunk]
            total += (max(xs) - min(xs) + 1) * (max(ys) - min(ys) + 1)
        return total

    for width in (12, 20, 24):
        assert bbox_area_sum(hil, width) < bbox_area_sum(mor, width), width


def test_hilbert_key_preserves_underscore_h_user_columns(spark):
    """Round-7 review: passthrough is by exact caller-column name — a
    user column that happens to start with `_h` must survive the walk."""
    from fhir_etl_spark.operators.layout import hilbert_key

    df = spark.createDataFrame(
        [(1, 2, "keep-me")], "x long, y long, _height string"
    )
    out = hilbert_key(df, ["x", "y"], bits=2)
    assert set(out.columns) == {"x", "y", "_height", "_hvalue"}
    assert out.first()["_height"] == "keep-me"
