"""Nested-data inventory (SURVEY.md §2.9): array construction, explode /
posexplode (N5 — the GTEx filesets×files double unnest), struct building,
and higher-order array functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fhir_etl_spark.queries.registry import query
from fhir_etl_spark.session import load_tables


@query(
    "n5_explode_tokens",
    oracle="""
    SELECT tok, count(*) AS n
    FROM (SELECT unnest(string_split(p_type, ' ')) AS tok FROM part)
    GROUP BY tok
    """,
    tags=("nested", "agg"),
)
def n5_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N5: split → explode → count. The single-level unnest half of the
    reference's filesets→files double iterrows (gtex_fhirizer.py:403-406)."""
    part = load_tables(spark, sf_dir, "part")
    return (
        part.select(F.explode(F.split("p_type", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )


@query(
    "n5b_posexplode",
    oracle="""
    SELECT p_partkey,
           unnest(generate_series(0, len(toks) - 1)) AS pos,
           unnest(toks) AS tok
    FROM (SELECT p_partkey, string_split(p_type, ' ') AS toks FROM part)
    """,
    tags=("nested",),
)
def n5b_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode — unnest with element position (order matters, e.g. the
    reference's 'first fileset is protected' rule, gtex_fhirizer.py:83)."""
    part = load_tables(spark, sf_dir, "part")
    return part.select(
        "p_partkey", F.posexplode(F.split("p_type", " ")).alias("pos", "tok")
    )


@query(
    "n6_double_explode",
    oracle="""
    SELECT r_name, n_name, tok
    FROM region
      JOIN nation ON n_regionkey = r_regionkey,
      unnest(string_split(n_name, 'A')) AS t(tok)
    WHERE tok <> ''
    """,
    tags=("nested", "join"),
)
def n6_double_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level unnest: region → nations (join) → tokens (explode) — the
    shape of dataset → filesets[] → files[] (N5 ×2). In Spark the nested
    collection is built with collect_list then exploded twice, proving the
    array-of-struct path the GTEx fileList uses."""
    region, nation = load_tables(spark, sf_dir, "region", "nation")
    nested = (
        nation.groupBy("n_regionkey")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("n_name"), F.split("n_name", "A").alias("toks"))
                )
            ).alias("nations")
        )
    )
    return (
        region.join(nested, region.r_regionkey == nested.n_regionkey)
        .select("r_name", F.explode("nations").alias("nat"))
        .select("r_name", F.col("nat.n_name").alias("n_name"), F.explode("nat.toks").alias("tok"))
        .filter(F.col("tok") != "")
    )


@query(
    "n7_array_functions",
    oracle="""
    SELECT p_partkey,
           len(toks) AS n_toks,
           array_to_string(list_sort(toks), '|') AS sorted_toks,
           array_to_string(list_transform(toks, x -> upper(x)), '|') AS upper_toks,
           coalesce(array_to_string(list_filter(toks, x -> len(x) > 5), '|'), '')
             AS long_toks
    FROM (SELECT p_partkey, string_split(p_type, ' ') AS toks FROM part)
    """,
    tags=("nested", "function"),
)
def n7_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (transform/filter/sort) — the
    expression-level tools the empty-pruning compiler (N1) is built from."""
    part = load_tables(spark, sf_dir, "part")
    toks = F.split("p_type", " ")
    return part.select(
        "p_partkey",
        F.size(toks).alias("n_toks"),
        F.array_join(F.sort_array(toks), "|").alias("sorted_toks"),
        F.array_join(F.transform(toks, lambda x: F.upper(x)), "|").alias("upper_toks"),
        F.array_join(F.filter(toks, lambda x: F.length(x) > 5), "|").alias("long_toks"),
    )


@query(
    "s8_json_roundtrip",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents
    """,
    tags=("scan", "json"),
)
def s8_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8→S7 serialization round-trip as a pure-operator check: struct →
    to_json (the NDJSON sink's exact serialization) → from_json with the
    explicit schema (the read-back path) must be the identity on typed
    data. The oracle is simply the original rows."""
    documents = load_tables(spark, sf_dir, "documents")
    serialized = documents.select(
        F.to_json(
            F.struct("doc_id", "lang", "n_chars"), {"ignoreNullFields": "true"}
        ).alias("line")
    )
    return serialized.select(
        F.from_json("line", "doc_id bigint, lang string, n_chars bigint").alias("r")
    ).select("r.doc_id", "r.lang", "r.n_chars")


@query(
    "n8_struct_roundtrip",
    oracle="""
    SELECT o_orderkey,
           concat('{"k":', CAST(o_custkey AS VARCHAR), ',"s":"', o_orderstatus, '"}')
             AS doc_json
    FROM orders
    """,
    tags=("nested", "json"),
)
def n8_struct_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct build → single to_json at the sink boundary — the engine's
    document IR policy (stay in native structs, serialize once; SURVEY §3.4).
    """
    orders = load_tables(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.to_json(
            F.struct(F.col("o_custkey").alias("k"), F.col("o_orderstatus").alias("s"))
        ).alias("doc_json"),
    )


@query(
    "u1_udtf_expand",
    oracle="""
    SELECT p_partkey, unnest(generate_series(0, p_size % 4)) AS i
    FROM part
    """,
    tags=("udtf",),
)
def u1_udtf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF surface (SURVEY.md §2.11): a Python table function expanding one
    row into (p_size % 4 + 1) rows. The engine's policy keeps UDTFs OFF hot
    paths (explode covers the parity cases) — this registers the capability
    and pins its correctness."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="p_partkey bigint, i int")
    class ExpandRows:
        def eval(self, p_partkey: int, p_size: int):
            for i in range((p_size % 4) + 1):
                yield p_partkey, i

    part = load_tables(spark, sf_dir, "part")
    spark.udtf.register("expand_rows", ExpandRows)
    part.select("p_partkey", "p_size").createOrReplaceTempView("_part_u1")
    return spark.sql(
        "SELECT t.p_partkey, t.i FROM _part_u1, "
        "LATERAL expand_rows(p_partkey, p_size) t"
    )


@query(
    "n9_prune_serialize",
    oracle="""
    SELECT o_orderkey,
           concat(
             '{"priority":"', o_orderpriority, '"',
             CASE WHEN o_orderstatus = 'F' THEN ''
                  ELSE concat(',"status":"', o_orderstatus, '"') END,
             CASE WHEN o_custkey % 3 = 0 THEN ''
                  ELSE concat(',"tag":["', o_orderpriority, '"]') END,
             '}'
           ) AS resource_json
    FROM orders
    """,
    tags=("nested", "prune", "serialize"),
)
def n9_prune_serialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1 empty-pruning + N4 serialize-once with a full value oracle:
    build a struct whose fields are selectively emptied, prune it (empty
    string -> dropped, empty array -> dropped), serialize once with
    ignoreNullFields - the oracle constructs the identical JSON by CASE
    (reference remove_empty_dicts, utils.py:138-161 + single-serialize,
    utils.py:220-228). Field order is struct declaration order, which
    to_json preserves."""
    from fhir_etl_spark.operators.prune import prune_empty

    orders = load_tables(spark, sf_dir, "orders")
    shaped = orders.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderpriority").alias("priority"),
            # 'F' status -> empty string, which the pruner must drop
            F.when(F.col("o_orderstatus") == "F", "")
            .otherwise(F.col("o_orderstatus"))
            .alias("status"),
            # every third customer -> empty array, which the pruner must drop
            F.when(
                F.col("o_custkey") % 3 == 0, F.array().cast("array<string>")
            )
            .otherwise(F.array(F.col("o_orderpriority")))
            .alias("tag"),
        ).alias("resource"),
    )
    pruned = prune_empty(shaped)
    return pruned.select(
        "o_orderkey",
        F.to_json(F.col("resource"), {"ignoreNullFields": "true"}).alias(
            "resource_json"
        ),
    )


@query(
    "s12_warc_scan",
    oracle="""
    SELECT 'http://corpus.local/' || CAST(doc_id AS VARCHAR) AS url,
           CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
           200 AS http_status,
           md5(text) AS text_md5
    FROM documents
    """,
    tags=("scan", "warc"),
)
def s12_warc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion round trip through the real container grammar:
    documents → HTTP response records → member-per-record-gzip WARC files
    (one per task, written distributed via applyInPandas — the shape of a
    real corpus export) → the warc_archive Python DataSource (one
    partition per file, streaming multi-member gunzip + record walk +
    HTTP split) → per-record url/length/status/md5, which the oracle
    replays straight from the documents table. A wrong Content-Length,
    gzip member boundary, or HTTP header split breaks the hash."""
    import os

    from fhir_etl_spark.sources.warc import WarcDataSource

    documents = load_tables(spark, sf_dir, "documents").select("doc_id", "text")
    n_files = 8
    out_dir = f"/tmp/fhir_etl_spark_warc/{os.path.basename(sf_dir.rstrip('/'))}"
    os.makedirs(out_dir, exist_ok=True)

    def write_group(key, pdf):
        import pandas as pd

        from fhir_etl_spark.sources.warc import (
            http_response_record,
            write_warc,
        )

        fid = int(key[0])
        records = [
            http_response_record(
                f"http://corpus.local/{int(doc_id)}",
                str(text).encode("utf-8"),
                record_id=f"doc-{int(doc_id)}",
            )
            for doc_id, text in sorted(
                zip(pdf["doc_id"], pdf["text"]), key=lambda t: t[0]
            )
        ]
        path = f"{out_dir}/part-{fid:04d}.warc.gz"
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(write_warc(records, gzip_members=True))
        os.replace(tmp, path)
        return pd.DataFrame({"file_id": [fid], "n": [len(pdf)]})

    # stage the files eagerly (fixture write, one file per task)
    (
        documents.withColumn("file_id", F.col("doc_id") % n_files)
        .groupBy("file_id")
        .applyInPandas(write_group, "file_id long, n long")
        .collect()
    )

    try:
        spark.dataSource.register(WarcDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    paths = ",".join(f"{out_dir}/part-{fid:04d}.warc.gz" for fid in range(n_files))
    scanned = spark.read.format("warc_archive").option("paths", paths).load()
    return (
        scanned.where(F.col("warc_type") == "response")
        .select(
            F.col("target_uri").alias("url"),
            F.length("payload").cast("long").alias("content_length"),
            F.col("http_status").cast("int").alias("http_status"),
            F.md5("payload").alias("text_md5"),
        )
    )


@query(
    "s13_webdataset_scan",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS key,
           md5(text) AS text_md5,
           lang AS cls,
           CAST(octet_length(encode(text)) AS BIGINT) AS txt_bytes
    FROM documents
    """,
    tags=("scan", "webdataset", "multimodal"),
)
def s13_webdataset_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset (tar-shard) ingestion round trip: documents → per-doc
    (key.txt, key.cls) member tuples → 8 tar shards written distributed →
    the webdataset Python DataSource (one partition per shard) →
    declarative sample assembly (group_webdataset_samples: groupBy +
    map_from_entries, no Python) → per-sample md5/class/byte-length,
    replayed from documents by the oracle. A wrong member split, key
    grouping, or payload framing breaks the hash."""
    import os

    from fhir_etl_spark.sources.tar import (
        WebDatasetDataSource,
        group_webdataset_samples,
    )

    documents = load_tables(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    n_files = 8
    out_dir = f"/tmp/fhir_etl_spark_wds/{os.path.basename(sf_dir.rstrip('/'))}"
    os.makedirs(out_dir, exist_ok=True)

    def write_group(key, pdf):
        import pandas as pd

        from fhir_etl_spark.sources.tar import write_webdataset_shard

        fid = int(key[0])
        samples = [
            (str(int(doc_id)),
             {"txt": str(text).encode("utf-8"),
              "cls": str(lang).encode("utf-8")})
            for doc_id, text, lang in sorted(
                zip(pdf["doc_id"], pdf["text"], pdf["lang"]),
                key=lambda t: t[0],
            )
        ]
        path = f"{out_dir}/shard-{fid:04d}.tar"
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(write_webdataset_shard(samples))
        os.replace(tmp, path)
        return pd.DataFrame({"file_id": [fid], "n": [len(samples)]})

    (
        documents.withColumn("file_id", F.col("doc_id") % n_files)
        .groupBy("file_id")
        .applyInPandas(write_group, "file_id long, n long")
        .collect()
    )

    try:
        spark.dataSource.register(WebDatasetDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    paths = ",".join(f"{out_dir}/shard-{fid:04d}.tar" for fid in range(n_files))
    members = spark.read.format("webdataset").option("paths", paths).load()
    samples = group_webdataset_samples(members)
    return samples.select(
        F.col("key"),
        F.md5(F.col("parts")["txt"]).alias("text_md5"),
        F.col("parts")["cls"].cast("string").alias("cls"),
        F.length(F.col("parts")["txt"]).cast("long").alias("txt_bytes"),
    )


@query(
    "s14_corrupt_records",
    oracle="""
    SELECT CASE WHEN doc_id % 13 = 0 THEN NULL ELSE doc_id END AS doc_id,
           CASE WHEN doc_id % 13 = 0 THEN NULL
                ELSE CAST(n_chars AS BIGINT) END AS n_chars,
           doc_id % 13 = 0 AS is_corrupt
    FROM documents
    """,
    tags=("scan", "json", "robustness"),
)
def s14_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record tolerance in the NDJSON scan path: every 13th
    document is written as a TRUNCATED JSON line (planted corruption),
    the read-back uses PERMISSIVE mode with columnNameOfCorruptRecord —
    bad lines become (NULL fields + the raw line in the corrupt column),
    never a job failure. The production contract for 100 TB crawl-dump
    ingestion, where some malformed records are a certainty; the oracle
    replays exactly which rows must surface corrupt."""
    import os

    documents = load_tables(spark, sf_dir, "documents")
    import atexit
    import shutil

    # pid-scoped: a concurrent process's overwrite must not race this
    # process's read-back; cleaned at exit (pids rarely recur, the dir
    # would otherwise leak per run)
    out_dir = (
        "/tmp/fhir_etl_spark_corrupt/"
        f"{os.path.basename(sf_dir.rstrip('/'))}-{os.getpid()}"
    )
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    lines = documents.select(
        F.when(
            F.col("doc_id") % 13 == 0,
            # truncated mid-object: undecodable, lands in _corrupt
            F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string"),
                     F.lit(', "n_chars": ')),
        )
        .otherwise(
            F.to_json(
                F.struct(F.col("doc_id"), F.col("n_chars").cast("long").alias("n_chars"))
            )
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(out_dir)
    parsed = (
        spark.read.schema("doc_id long, n_chars long, _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(out_dir)
    )
    return parsed.select(
        "doc_id", "n_chars", F.col("_corrupt").isNotNull().alias("is_corrupt")
    )


@query(
    "s15_xlsx_scan",
    oracle="""
    SELECT s_suppkey, s_name,
           CAST(s_nationkey AS BIGINT) AS s_nationkey, s_acctbal
    FROM supplier
    """,
    tags=("scan", "xlsx"),
)
def s15_xlsx_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: Excel ingestion round trip — supplier → 4 .xlsx workbooks
    (header row + typed cells) written distributed → the xlsx Python
    DataSource (one partition per file, pure-stdlib ECMA-376 parse) →
    declarative record assembly (xlsx_records: broadcast header join +
    map_from_entries, no Python) → typed re-projection, replayed from
    supplier by the oracle. The reference declares this format
    (setup.py:28-29 openpyxl) but never reads it; this closes the row."""
    import os

    documents = load_tables(spark, sf_dir, "supplier")
    n_files = 4
    out_dir = f"/tmp/fhir_etl_spark_xlsx/{os.path.basename(sf_dir.rstrip('/'))}"
    os.makedirs(out_dir, exist_ok=True)

    def write_group(key, pdf):
        import pandas as pd

        from fhir_etl_spark.sources.xlsx import write_xlsx

        fid = int(key[0])
        rows = [["SUPPKEY", "NAME", "NATIONKEY", "ACCTBAL"]]
        for r in sorted(pdf.itertuples(index=False), key=lambda t: t.s_suppkey):
            rows.append([
                int(r.s_suppkey),
                None if pd.isna(r.s_name) else str(r.s_name),
                None if pd.isna(r.s_nationkey) else int(r.s_nationkey),
                None if pd.isna(r.s_acctbal) else float(r.s_acctbal),
            ])
        path = f"{out_dir}/dict-{fid:02d}.xlsx"
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(write_xlsx({"suppliers": rows}))
        os.replace(tmp, path)
        return pd.DataFrame({"file_id": [fid], "n": [len(rows) - 1]})

    from fhir_etl_spark.sources.xlsx import XlsxDataSource, xlsx_records

    (
        documents.withColumn("file_id", F.col("s_suppkey") % n_files)
        .groupBy("file_id")
        .applyInPandas(write_group, "file_id long, n long")
        .collect()
    )
    try:
        spark.dataSource.register(XlsxDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    paths = ",".join(f"{out_dir}/dict-{fid:02d}.xlsx" for fid in range(n_files))
    cells = spark.read.format("xlsx").option("paths", paths).load()
    records = xlsx_records(cells, header_row=1)
    return records.select(
        F.col("fields")["SUPPKEY"].cast("bigint").alias("s_suppkey"),
        F.col("fields")["NAME"].alias("s_name"),
        F.col("fields")["NATIONKEY"].cast("bigint").alias("s_nationkey"),
        F.col("fields")["ACCTBAL"].cast("double").alias("s_acctbal"),
    )


@query(
    "s16_orc_roundtrip",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
    tags=("scan", "orc"),
)
def s16_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round trip: documents → lang-partitioned ORC → read back, every
    row and column intact (the oracle is the source table itself, so any
    value the format mangles — type widening, charset, partition-column
    re-encoding — hash-mismatches). ORC is Spark's second first-class
    columnar format (vectorized reader, predicate pushdown, partition
    pruning all apply exactly as for parquet); `partitionBy(lang)` makes
    the read-back exercise directory-partition discovery too, where the
    partition column comes back from directory names, not file data —
    the classic silent type-change spot (string-typed here, so identity).
    pid-scoped dir + atexit cleanup, same as s14."""
    import atexit
    import os
    import shutil

    documents = load_tables(spark, sf_dir, "documents")
    out_dir = (
        "/tmp/fhir_etl_spark_orc/"
        f"{os.path.basename(sf_dir.rstrip('/'))}-{os.getpid()}"
    )
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    documents.write.mode("overwrite").partitionBy("lang").orc(out_dir)
    back = spark.read.orc(out_dir)
    return back.select("doc_id", "text", "lang", "source", "n_chars")


@query(
    "s17_arrow_ipc_roundtrip",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
    tags=("scan", "arrow"),
)
def s17_arrow_ipc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC (Feather v2) round trip: documents → 4 hash-sharded
    ``.arrow`` files written distributed (applyInPandas group writer,
    atomic rename — the s15 xlsx protocol) → binaryFile-listed,
    mapInArrow-decoded read-back (sources/arrow_ipc.py: Arrow batches
    end to end, no pandas on the read side). Identity oracle: any value
    the interchange mangles — string encoding, int width, null masks —
    hash-mismatches against the source table."""
    import os

    from fhir_etl_spark.sources.arrow_ipc import read_arrow_ipc, write_ipc_file

    documents = load_tables(spark, sf_dir, "documents")
    n_files = 4
    out_dir = (
        "/tmp/fhir_etl_spark_arrow/"
        f"{os.path.basename(sf_dir.rstrip('/'))}-{os.getpid()}"
    )
    os.makedirs(out_dir, exist_ok=True)

    def write_group(key, pdf):
        import pandas as pd
        import pyarrow as pa

        fid = int(key[0])
        pdf = pdf.sort_values("doc_id").drop(columns=["file_id"])
        table = pa.Table.from_pandas(
            pdf,
            schema=pa.schema(
                [
                    ("doc_id", pa.int64()),
                    ("text", pa.string()),
                    ("lang", pa.string()),
                    ("source", pa.string()),
                    ("n_chars", pa.int64()),
                ]
            ),
            preserve_index=False,
        )
        write_ipc_file(f"{out_dir}/shard-{fid:02d}.arrow", table)
        return pd.DataFrame({"file_id": [fid], "n": [len(pdf)]})

    (
        documents.withColumn("file_id", F.col("doc_id") % n_files)
        .groupBy("file_id")
        .applyInPandas(write_group, "file_id long, n long")
        .collect()
    )
    return read_arrow_ipc(
        spark,
        f"{out_dir}/*.arrow",
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )


@query(
    "s18_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 1
    """,
    tags=("source", "schema", "lakehouse"),
)
def s18_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution across parquet file generations — the
    lakehouse behavior every long-lived 100 TB table exhibits: an old
    file generation written WITHOUT a column coexists with a new
    generation that has it, and a read under the EVOLVED schema
    NULL-fills the missing column from old footers. Deliberately uses
    an explicit ``spark.read.schema(evolved)`` — the scale-sane path —
    not ``mergeSchema=true``, which reconciles schemas by reading EVERY
    file footer up front (a full-listing scan per query at petabyte
    file counts; the explicit schema costs nothing and is what a table
    catalog provides). The oracle replays both generations with the
    NULL fill, so a dropped generation, a mis-typed fill, or a
    column-order mangle value-mismatches. Same additive-only contract
    as sinks/versioned's schema check — renames/drops need a rewrite,
    not evolution."""
    import atexit
    import os
    import shutil

    orders = load_tables(spark, sf_dir, "orders")
    out_dir = (
        "/tmp/fhir_etl_spark_evolve/"
        f"{os.path.basename(sf_dir.rstrip('/'))}-{os.getpid()}"
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    # generation 1: the original two-column schema
    orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(out_dir)
    # generation 2: the schema gained a column; appended files carry it
    orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("append").parquet(out_dir)
    evolved = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    return spark.read.schema(evolved).parquet(out_dir)
