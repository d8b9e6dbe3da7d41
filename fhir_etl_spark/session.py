"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
settings are chosen so the plans they produce survive a multi-executor
cluster: AQE on (runtime broadcast conversion + skew-join splitting),
shuffle partitions sized to the environment rather than the 200 default,
UTC session timezone (required for DuckDB-oracle comparisons — DuckDB
timestamps are UTC-naive), and Arrow enabled for pandas_udf exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


_SHIPPED: set[int] = set()  # SparkContext ids already carrying the package zip


def ship_package(spark: SparkSession) -> None:
    """Make ``fhir_etl_spark`` importable on Python workers regardless of
    the driver's CWD/PYTHONPATH.

    Closures passed to mapInPandas/applyInPandas unpickle module-level
    references (and run their own ``from fhir_etl_spark...`` imports)
    INSIDE the worker process, which does not inherit the driver's
    ``sys.path`` mutations. The Spark-native fix is ``addPyFile`` with a
    zip of the package: workers prepend it to their sys.path (zipimport),
    exactly how cluster deployments ship job code. Idempotent per
    SparkContext; the zip is rebuilt at most once per driver process.
    """
    sc = spark.sparkContext
    if id(sc) in _SHIPPED:
        return
    _SHIPPED.add(id(sc))  # one attempt per context, even on failure
    try:
        import tempfile
        import zipfile
        from pathlib import Path

        pkg_root = Path(__file__).resolve().parent
        zip_path = Path(tempfile.gettempdir()) / f"fhir_etl_spark_pkg_{os.getpid()}.zip"
        if not zip_path.exists():
            with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
                for py in sorted(pkg_root.rglob("*.py")):
                    zf.write(py, f"fhir_etl_spark/{py.relative_to(pkg_root)}")
        sc.addPyFile(str(zip_path))
    except Exception:
        # best-effort: when the zip/tempdir path is unavailable, workers
        # fall back to inheriting PYTHONPATH/CWD (the pre-existing path,
        # sufficient whenever the driver runs from the repo root)
        pass


def get_spark(
    app_name: str = "fhir_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Every config below is cluster-safe: nothing pins local mode except the
    master URL itself, which is overridable via ``SPARK_GRAFT_MASTER``.
    """
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
    )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # HotSpot refuses to JIT methods over 8000 bytecodes
        # (-XX:-DontCompileHugeMethods is off by default), so a fused
        # whole-stage method between 8 KB and Spark's default 64 KB
        # limit compiles fine under Janino and then runs in the JVM
        # BYTECODE INTERPRETER — measured in round 10 on SemDeDup's
        # pair scan (SMJ + 64-term dot + partial max fused into one
        # method): codegen ON 92.6 s vs codegen OFF 3.2 s at
        # sf10-shape. 8000 makes Spark fall back to its (JIT-friendly,
        # per-expression) interpreted path for exactly those stages;
        # every normal stage keeps whole-stage codegen.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # the shape benches difference completed-stage shuffle totals
        # from the REST status API; the 1000-stage default evicts early
        # stages mid-run once the measured set is long enough, and the
        # before/after subtraction then goes NEGATIVE (r12 session 2:
        # v16/c6 read -5.4/-6.4 GB the first run past ~1700 stages).
        # Retention costs driver memory only when the UI is on, which
        # is bench-only.
        .config("spark.ui.retainedStages", "20000")
        # local mode = driver-only JVM; leave headroom under the 128 GiB box
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.driver.maxResultSize", "4g")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # every engine session can run Python workers (DataSources, pandas UDFs)
    ship_package(spark)
    return spark


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Load driver testdata parquet tables as DataFrames.

    Returns a single DataFrame when one name is given, else a tuple in the
    order requested. Explicit per-table reads (not globbed) keep partition
    pruning and column pruning per-table.

    The `events` table is written with TIMESTAMP(NANOS), which Spark's
    parquet reader rejects; it is read via the nanosAsLong legacy path and
    converted to a microsecond timestamp (matching DuckDB's own
    nanos→micros truncation when it reads the same file).
    """
    from pyspark.sql import functions as F

    # Oracle comparisons (and the engine's ISO-8601 emission) assume UTC;
    # DuckDB timestamps are UTC-naive. Pin it even under a caller-built
    # session (runtime-settable conf).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Every query path flows through here — ship the package so queries
    # with Python workers survive a driver CWD outside the repo.
    ship_package(spark)

    def _read(name: str):
        path = f"{sf_dir}/{name}.parquet"
        if name != "events":
            return spark.read.parquet(path)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.floor(F.col("ts") / 1000).cast("long"))
            )
        elif ts_type == "timestamp_ntz":
            # Parquet micros with isAdjustedToUTC=false reads back as
            # TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ default.
            # DuckDB reads the same file as its (naive) TIMESTAMP, so with
            # the session tz pinned to UTC this cast is value-identical on
            # both sides and restores the LTZ arithmetic surface
            # (cast-to-double epoch math, unix_timestamp, etc.).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df

    dfs = tuple(_read(name) for name in names)
    return dfs[0] if len(dfs) == 1 else dfs
