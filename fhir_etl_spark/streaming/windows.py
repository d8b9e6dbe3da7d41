"""Event-time streaming windows with watermarks + the stateful surface.

The SAME window expressions as the batch inventory (queries/events.py e1/e2)
run here under readStream — Structured Streaming's incremental execution of
an unchanged logical plan is the whole point: author once, run either mode.

Late data: the watermark bounds state; events older than the watermark are
dropped from open windows (append mode emits a window only once its end
passes the watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # nanos (testdata quirk); converted below
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (file-source streaming; in
    production this is Kafka — the transformations are source-agnostic).

    The file source requires a DIRECTORY; the testdata keeps one file per
    table in the sf dir, so a glob filter narrows the stream to events.

    The testdata's ts encoding has varied across driver revisions —
    TIMESTAMP(NANOS) (reads as bigint under nanosAsLong) and micros with
    isAdjustedToUTC=false (reads as TIMESTAMP_NTZ). A schema-only batch
    read (footer metadata, no data scan) sniffs which one this file uses so
    the stream normalizes to a session-tz TIMESTAMP either way — identical
    to the batch loader (session.load_tables), so streaming twins and their
    batch queries agree."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    ts_kind = dict(spark.read.parquet(path).dtypes)["ts"]
    ts_type = {
        "bigint": T.LongType(),
        "timestamp_ntz": T.TimestampNTZType(),
    }.get(ts_kind, T.TimestampType())
    schema = T.StructType(
        [
            T.StructField(f.name, ts_type if f.name == "ts" else f.dataType)
            for f in EVENTS_SCHEMA.fields
        ]
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if ts_kind == "bigint":  # TIMESTAMP(NANOS) → micros
        return raw.withColumn(
            "ts", F.timestamp_micros(F.floor(F.col("ts") / 1000).cast("long"))
        )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def dedup_within_watermark(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: turns an at-least-once source (Kafka
    redelivery, file re-drops) into effectively-once downstream delivery.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    key's event time falls behind the watermark, so state is BOUNDED by the
    watermark horizon — plain ``dropDuplicates`` on an unbounded stream
    grows state forever, which is the 100 TB failure mode. Duplicates
    arriving after the horizon are dropped as late data by the same
    watermark, so each key still emits at most once.

    Streaming twin of the batch exact-dedup operator
    (operators/dedup.exact_dedup) and of the reference's merge-by-id upsert
    precedence (utils.py:101-135)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def tumbling_counts(
    events: DataFrame, window_size: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts per event type (append-mode safe)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_size).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window_size: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_size, slide).alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """session_window: the streaming twin of the batch sessionization query
    (queries/events.py e3)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a streaming plan to completion against the current file set
    (memory sink + availableNow trigger) — the local test harness; swap the
    sink for kafka/delta in deployment. availableNow processes everything
    then STOPS the query, which also terminates cleanly under stateful
    processing-time timeouts (processAllAvailable can spin on timer wakeups).
    """
    query = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def stream_upsert_ndjson(
    spark: SparkSession,
    resources_stream: DataFrame,
    folder_path: str,
    resource_type: str,
    update_existing: bool = True,
    checkpoint: str | None = None,
):
    """S9 as a streaming sink: foreachBatch + the same merge-by-id used in
    batch (utils.py:101-135 semantics, exactly-once per epoch).

    ``checkpoint`` enables restart-from-failure: the offset/commit logs
    record which epochs merged, so a query killed mid-stream resumes at
    the first uncommitted epoch — and because the merge body is
    idempotent per id, even a re-run of a half-applied epoch converges
    (exactly-once EFFECT; pinned by the restart test)."""
    from fhir_etl_spark.sinks.upsert import create_or_extend

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            create_or_extend(
                spark, batch_df, folder_path, resource_type, update_existing
            )

    writer = (
        resources_stream.writeStream.outputMode("update")
        .foreachBatch(_merge)
        .trigger(availableNow=True)
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
