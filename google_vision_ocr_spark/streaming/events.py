"""Structured Streaming surface (engine extension; reference is batch).

The reference has no streaming (SURVEY.md §2.9), but the north-rule
input table carries ``warc_ts`` and a crawl pipeline's natural delivery
mode is an arriving stream of pages/events.  This module provides the
streaming twins of the batch operators, built on Structured Streaming:

- :func:`read_event_stream` — file-source stream with an explicit
  schema (streams cannot infer).
- :func:`windowed_counts` — watermarked tumbling-window aggregation
  (late data dropped deterministically past the watermark).
- :func:`read_pages_stream` — a stream of page rows, which the
  extraction kernel's scan stage (``plans/fused.scan_items``) takes
  unchanged: its ``mapInArrow`` works on streaming DataFrames too, so
  the same stage code serves batch and stream.
- :func:`run_available_now` — drain whatever is present and stop
  (used by tests; semantically equals the batch run on the same files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])

PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])


def read_event_stream(spark: SparkSession, directory: str, glob: str = "events*.parquet",
                      max_files_per_trigger: int = 4) -> DataFrame:
    """File-source stream (directory + glob; file sources need a dir)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", glob)
        .parquet(directory)
    )


def read_pages_stream(spark: SparkSession, directory: str, glob: str = "pages*.parquet",
                      max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", glob)
        .parquet(directory)
    )


def windowed_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window per-type counts with a watermark for late data."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("win.start").alias("window_start"), "event_type",
                "n_events", "sum_value")
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours",
                 key: str = "event_id") -> DataFrame:
    """Streaming exactly-once-per-key: ``dropDuplicatesWithinWatermark``
    keeps each key's state only for the watermark horizon — the
    at-scale requirement (a 10^12-event stream with unbounded dedup
    state OOMs; a re-delivered event more than ``watermark`` late is
    out of contract, same as every at-least-once ingestion pipeline)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark([key])


def purchases_with_recent_views(
    events: DataFrame, lookback: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream INTERVAL join: each purchase joins the same
    user's views from the preceding ``lookback`` window.

    Both sides carry watermarks and the join condition bounds the
    event-time range, which is what lets Spark EVICT join state — an
    unbounded stream-stream join buffers both streams forever.  Works
    identically on batch frames (the twin the test compares against)."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("value").alias("view_value"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", watermark)
    )
    return purchases.join(
        views,
        F.expr(
            f"user_id = v_user AND view_ts >= p_ts - INTERVAL {lookback} "
            "AND view_ts <= p_ts"
        ),
    ).select("event_id", "user_id", "p_ts", "view_ts", "view_value")


def run_available_now(stream_df: DataFrame, checkpoint_dir: str,
                      query_name: str = "drain", timeout_s: int = 120,
                      output_mode: str = "append") -> DataFrame:
    """Drain the stream into an in-memory table; returns the result as
    a batch DataFrame.  Uses Trigger.AvailableNow so the query stops on
    its own once all present files are processed.  Aggregations should
    pass ``output_mode="complete"`` (append only emits windows already
    finalized by the watermark, which never happens on a drained
    bounded input)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    spark = stream_df.sparkSession
    return spark.table(query_name)
