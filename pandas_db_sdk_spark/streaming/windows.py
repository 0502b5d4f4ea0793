"""Windowed streaming aggregations over the events table.

Each transformation takes a DataFrame (batch OR streaming — the expressions
are identical) and returns the windowed aggregate. `stream_events_from_dir`
builds the streaming source; `run_to_memory` executes with
Trigger.AvailableNow into a memory sink and returns the materialized result
for parity checks.

Watermarks bound state: a 10-minute watermark means window state older than
max(event_time) − 10min is finalized and evicted — the property that keeps
a 100 TB/day stream's state finite.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def stream_events_from_dir(spark: SparkSession, directory: str) -> DataFrame:
    """File-source stream of events parquet written by tests (µs timestamps)."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(directory)


def tumbling_counts(events: DataFrame, width: str = "5 minutes", watermark: str = "10 minutes") -> DataFrame:
    e = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        e.groupBy(F.window("ts", width), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type",
            "n",
            "total",
        )
    )


def sliding_counts(events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes") -> DataFrame:
    e = events.withWatermark("ts", "10 minutes") if events.isStreaming else events
    return (
        e.groupBy(F.window("ts", width, slide))
        .agg(F.count("*").alias("n"))
        .select(F.unix_micros(F.col("window.start")).alias("window_start_us"), "n")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    e = events.withWatermark("ts", "30 minutes") if events.isStreaming else events
    return (
        e.groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            "n_events",
        )
    )


def dedup_events(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """C59: streaming dedup — watermark bounds the seen-ids state."""
    e = events.withWatermark("ts", watermark) if events.isStreaming else events
    return e.dropDuplicates(["event_id"]).select("event_id", "user_id", "event_type")


def run_to_memory(result: DataFrame, spark: SparkSession, mode: str = "complete") -> DataFrame:
    """Execute a streaming DataFrame with AvailableNow into a memory sink and
    return the materialized table (test/driver harness helper)."""
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def interval_join(
    views: DataFrame,
    clicks: DataFrame,
    tolerance: str = "30 minutes",
    view_watermark: str = "1 hour",
    click_watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: pair each click with the same user's
    views in the preceding ``tolerance`` window (attribution's core shape).

    Streaming semantics: BOTH sides carry watermarks and the join condition
    bounds event time on both sides, so Spark can size the join state
    buffer — each side retains only watermark+tolerance of history, the
    property that keeps a continuous 100 TB/day join's state finite. The
    identical expressions run on batch DataFrames for the parity oracle.
    """
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    if views.isStreaming:
        v = v.withWatermark("v_ts", view_watermark)
    if clicks.isStreaming:
        c = c.withWatermark("c_ts", click_watermark)
    cond = (
        (F.col("v_user") == F.col("c_user"))
        & (F.col("v_ts") <= F.col("c_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {tolerance}"))
    )
    return v.join(c, cond).select(
        F.col("c_user").alias("user_id"),
        "view_id",
        "click_id",
        F.unix_micros("v_ts").alias("view_ts_us"),
        F.unix_micros("c_ts").alias("click_ts_us"),
    )
