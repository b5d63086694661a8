"""Structured Streaming operators over the events stream.

The reference is all batch snapshots (SURVEY §2.9: no streams); this is the
engine's streaming extension. Design: the SAME window expressions the batch
queries use (queries.q_tumbling_windows etc.) applied to an unbounded
``readStream`` DataFrame, plus watermarking for state cleanup and
late-data handling — so batch results are the ground truth for the
streaming path (tested with availableNow triggers against the batch
oracle).

At scale: state stores are keyed by (window, group); watermarks bound
state size; ``dropDuplicatesWithinWatermark`` bounds the dedup state. No
custom state management — built-in operators only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ra2_datalake_linaresjoan_spark.sources.readers import TESTDATA_SCHEMAS, pin_utc


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events parquet directory/file, read with
    the declared events schema (``sources.readers.TESTDATA_SCHEMAS``) like
    the batch reader, so stream and batch plans agree bit-for-bit."""
    pin_utc(spark)
    reader = spark.readStream.schema(TESTDATA_SCHEMAS["events"]).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def tumbling_agg(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` given) windowed count+sum per
    event_type with a watermark bounding state and admitting late data up
    to the watermark delay."""
    w = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionized(
    events: DataFrame, gap: str = "5 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Session windows per user (inactivity gap); watermark closes sessions
    once event time passes start+gap+delay."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once event_id dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps ids only inside the watermark
    horizon — the streaming analog of the batch W1 dedup."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def chained_daily_rollup(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Chained (multi-stateful) windowed aggregation — Spark 3.4+'s
    window-on-window: hourly count per event_type rolls up into daily
    totals INSIDE the same streaming query via ``window_time`` (the
    event-time column of a window aggregate output), so the daily state
    sees hourly rows, never raw events. Both stateful operators share one
    watermark lineage; output mode must be append (complete is undefined
    over multiple stateful operators). At scale this is the streaming
    rollup hierarchy (minute → hour → day) with state per tier bounded
    by the tier's cardinality, not the event rate."""
    hourly = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        hourly.groupBy(
            F.window(F.window_time("w"), "1 day").alias("d"),
            F.col("event_type"),
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.count(F.lit(1)).alias("n_hours"),
        )
        .select(
            F.col("d.start").alias("day_start"),
            "event_type",
            "n_events",
            "n_hours",
        )
    )


def run_to_memory(
    df: DataFrame, query_name: str, spark: SparkSession, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming plan with an availableNow trigger into an
    in-memory sink and return the result table — used by tests to check
    streaming results against the batch oracle."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)
