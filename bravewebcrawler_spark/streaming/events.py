"""Structured Streaming: windowed event aggregation + stateful sessionization.

The reference is batch with a micro-batch flavor (SURVEY.md §2.9) and the
crawl engine keeps that shape; this module provides the genuinely-streaming
variants for pipelines that consume a live event feed: tumbling-window
aggregates with a watermark for late data, and the same 5-minute bucket
computed in batch so the streaming output is testable against the batch/SQL
oracle (tests/test_streaming.py asserts parity).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

WINDOW_S = 300


def window_agg_batch(events: DataFrame) -> DataFrame:
    """Batch twin of the streaming aggregation: 5-min tumbling buckets.

    Buckets are emitted as epoch seconds (BIGINT) — timezone-proof for the
    DuckDB oracle comparison.
    """
    bucket = (F.floor(F.unix_timestamp("ts") / WINDOW_S) * WINDOW_S).cast("long")
    return (
        events.groupBy(bucket.alias("win_start"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


def events_stream(spark: SparkSession, events_path: str) -> DataFrame:
    """The events as a streaming parquet source. The file source reads a
    DIRECTORY; a bare parquet file (the testdata layout) is read as its
    directory filtered to that one file name."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if os.path.isfile(events_path):
        reader = reader.option("pathGlobFilter", os.path.basename(events_path))
        events_path = os.path.dirname(os.path.abspath(events_path))
    return reader.parquet(events_path)


def window_agg_stream(spark: SparkSession, events_path: str) -> DataFrame:
    """The same aggregation as a streaming query over a parquet source.

    Watermark bounds state for late data; in production the source is
    kafka/kinesis — the parquet source here drives the identical plan.
    """
    stream = events_stream(spark, events_path)
    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", f"{WINDOW_S} seconds").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.unix_timestamp("win.start").cast("long").alias("win_start"), "event_type", "n", "sum_value")
    )


def run_stream_to_memory(spark: SparkSession, events_path: str, name: str = "stream_out") -> DataFrame:
    """Drive the streaming query to completion over the (finite) source and
    return the result table — 'complete' mode so the final answer equals the
    batch twin."""
    q = (
        window_agg_stream(spark, events_path)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"select * from {name}")
